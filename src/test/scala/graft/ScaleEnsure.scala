package graft
/** Dev tool: pre-build the synthetic Nx scale dir (same path Bench uses)
  * so `Bench --one`/`--ab` and PlanFiles can measure at scale without
  * paying the build inside the measured session. Args: <sfDir> <factor...>
  * where a factor is `N` (all tables) or `N:tbl1,tbl2` (targeted micro
  * dir). The session is [[Bench.buildSession]]'s. */
object ScaleEnsure {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val specs = args.drop(1).map { a =>
      a.split(':') match {
        case Array(f) => (f.toInt, None: Option[Set[String]])
        case Array(f, ts) => (f.toInt, Some(ts.split(',').toSet))
      }
    }
    val spark = Bench.buildSession()
    specs.foreach { case (f, only) =>
      val dir = SyntheticScale.ensure(spark, sfDir, f, replicateOnly = only)
      println(s"[scale-ensure] x$f ready at $dir")
      RelationalQueries.ensureViews(spark, dir)
      println(s"[scale-ensure] x$f delta fixtures ready")
    }
    spark.stop()
  }
}
