package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev profiling tool: for each named query, its formatted physical plan
  * (printed, or written to `<plans>/<name>.txt` — the before/after plan
  * evidence optimization rounds commit under plans/rN/) and N timed runs.
  * A run times the build, where the broadcast guards count rows, apart
  * from full materialization through the `noop` sink: `count()` would
  * let Catalyst prune work out of the plan (j1's two joins disappear),
  * so it does not time the query a caller gets.
  *
  * Usage: runMain graft.Profile <name[,name...]> [--sf dir] [--plans dir] [--runs N]
  * `--sf` defaults to SPARK_GRAFT_SF_DIR; `--runs` to 2 (the first run
  * pays JIT/codegen warmup); SPARK_GRAFT_CPUS sets local[N] (default 8).
  */
object Profile {
  private val Usage =
    "usage: graft.Profile <name[,name...]> [--sf dir] [--plans dir] [--runs N]"

  def main(args: Array[String]): Unit = {
    def parse(rest: List[String], opts: Map[String, String],
        names: Vector[String]): (Map[String, String], Vector[String]) = rest match {
      case k :: v :: tail if k.startsWith("--") => parse(tail, opts + (k.drop(2) -> v), names)
      case k :: Nil if k.startsWith("--") => sys.error(s"$k needs a value; $Usage")
      case n :: tail => parse(tail, opts, names ++ n.split(",").map(_.trim).filter(_.nonEmpty))
      case Nil => (opts, names)
    }
    val (opts, names) = parse(args.toList, Map.empty, Vector.empty)
    val badFlags = opts.keySet -- Set("sf", "plans", "runs")
    require(badFlags.isEmpty, s"unknown flags ${badFlags.mkString(", ")}; $Usage")
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(",")}; $Usage")
    val sf = opts.get("sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"no --sf and no SPARK_GRAFT_SF_DIR; $Usage"))
    val runs = opts.getOrElse("runs", "2").toInt
    val plansDir = opts.get("plans").map(p => Files.createDirectories(Paths.get(p)))
    val spark = core.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try for (n <- names) {
      val fn = SparkEntry.queries(n)
      val plan = fn(spark, sf).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      plansDir match {
        case Some(d) =>
          core.Fs.writeAtomic(d.resolve(s"$n.txt"), plan + "\n")
          println(s"[profile] $n: plan written to ${d.resolve(s"$n.txt")}")
        case None => println(s"===== $n =====\n$plan")
      }
      for (i <- 1 to runs) {
        val t0 = System.nanoTime()
        val df = fn(spark, sf)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(f"[profile] $n run $i: build ${(t1 - t0) / 1e9}%.2f s, " +
          f"execute ${(t2 - t1) / 1e9}%.2f s")
      }
    } finally spark.stop()
  }
}
