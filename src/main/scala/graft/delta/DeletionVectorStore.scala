package graft.delta

import java.util.UUID

import org.apache.hadoop.fs.Path

import graft.delta.DvCodec.Bitmap64

/**
 * Deletion-vector descriptor resolution + file IO.
 *
 * Storage types per protocol: "u" (relative file, pathOrInlineDv =
 * optional random prefix + z85 uuid, file `deletion_vector_<uuid>.bin`),
 * "p" (absolute path), "i" (inline, pathOrInlineDv = z85 of the framed
 * bitmap data).
 */
object DeletionVectorStore {

  /** Absolute path of an on-disk DV (storage types "u"/"p"). */
  def resolvePath(tablePath: Path, dv: DeletionVectorDescriptor): Path = dv.storageType match {
    // "p" carries an absolute URI: parse as one (percent-decoding), the
    // same reading delta-spark gives it — a literal-string Path would
    // keep %XX sequences in the file name and miss the foreign file
    case "p" =>
      try new Path(java.net.URI.create(dv.pathOrInlineDv))
      catch {
        // Legacy/raw absolute paths with URI-illegal characters (a space,
        // an unencoded '%') aren't URIs at all — read them literally
        // rather than failing resolution. Well-formed URIs still get the
        // delta-spark percent-decoding read above.
        case _: IllegalArgumentException => new Path(dv.pathOrInlineDv)
      }
    case "u" =>
      val s = dv.pathOrInlineDv
      val prefix = s.substring(0, s.length - 20)
      val uuid = DvCodec.z85ToUuid(s.substring(s.length - 20))
      val name = s"deletion_vector_$uuid.bin"
      if (prefix.isEmpty) new Path(tablePath, name)
      else new Path(new Path(tablePath, prefix), name)
    case other => throw new IllegalArgumentException(s"not a file-backed DV: $other")
  }

  /** Load + decode the bitmap behind a descriptor. */
  def read(log: DeltaLog, dv: DeletionVectorDescriptor): Bitmap64 =
    read(log.tablePath, log.fs, dv)

  /** Context-free variant, callable from executors (the task that scans
    * a file reads its DV, [[DvSlot]]).
    * File-backed DVs use a POSITIONED read of just this descriptor's frame
    * — multi-DV files (one file holding many files' bitmaps, written by
    * broad DML) would otherwise cost O(file size) per bitmap fetched. */
  def read(tablePath: Path, fs: org.apache.hadoop.fs.FileSystem,
      dv: DeletionVectorDescriptor): Bitmap64 = {
    val data = dv.storageType match {
      case "i" => DvCodec.z85Decode(dv.pathOrInlineDv)
      case _ =>
        val p = resolvePath(tablePath, dv)
        val in = fs.open(p)
        try {
          in.seek(dv.offset.getOrElse(1).toLong)
          val head = new Array[Byte](4)
          in.readFully(head)
          val size = java.nio.ByteBuffer.wrap(head).getInt
          require(size >= 0 && size <= (1 << 30), s"implausible DV frame size $size in $p")
          val body = new Array[Byte](size + 4) // data + crc32
          in.readFully(body)
          val crc = new java.util.zip.CRC32
          crc.update(body, 0, size)
          val expected = java.nio.ByteBuffer.wrap(body, size, 4).getInt
          require(crc.getValue.toInt == expected, s"DV checksum mismatch in $p")
          java.util.Arrays.copyOfRange(body, 0, size)
        } finally in.close()
    }
    DvCodec.deserialize(data)
  }

  /** Write several serialized bitmaps into ONE "u"-typed multi-DV file
    * under `tablePath` (executor-callable — broad DML builds and writes
    * DVs distributed, shipping only descriptors to the driver); returns
    * descriptors aligned with the input, all sharing the file's uuid and
    * differing in offset. */
  def writeMany(tablePath: Path, fs: org.apache.hadoop.fs.FileSystem,
      datas: Seq[Array[Byte]], cardinalities: Seq[Long])
      : (Path, Seq[DeletionVectorDescriptor]) = {
    require(datas.nonEmpty && datas.size == cardinalities.size)
    val uuid = UUID.randomUUID()
    val (fileBytes, offsets) = DvCodec.frameMany(datas)
    val path = new Path(tablePath, s"deletion_vector_$uuid.bin")
    val out = fs.create(path, false)
    try out.write(fileBytes) finally out.close()
    (path, datas.indices.map { i =>
      DeletionVectorDescriptor(
        storageType = "u",
        pathOrInlineDv = DvCodec.uuidToZ85(uuid),
        offset = Some(offsets(i)),
        sizeInBytes = datas(i).length,
        cardinality = cardinalities(i))
    })
  }

  /** Write a bitmap as a new "u"-typed DV file under the table root;
    * returns the descriptor. */
  def write(log: DeltaLog, bitmap: Bitmap64): DeletionVectorDescriptor = {
    val uuid = UUID.randomUUID()
    val data = DvCodec.serialize(bitmap)
    val (fileBytes, offset, dataSize) = DvCodec.frameSingle(data)
    val path = new Path(log.tablePath, s"deletion_vector_$uuid.bin")
    val out = log.fs.create(path, false)
    try out.write(fileBytes) finally out.close()
    DeletionVectorDescriptor(
      storageType = "u",
      pathOrInlineDv = DvCodec.uuidToZ85(uuid),
      offset = Some(offset),
      sizeInBytes = dataSize,
      cardinality = bitmap.cardinality)
  }
}
