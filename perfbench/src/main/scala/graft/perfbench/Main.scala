package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the op log, the read ops, the
  * run's arguments and its scratch directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val work: String, val cores: Int,
                val jvmStartMs: Long, val readyMs: Long) {
  val log = new OpLog(tracer)
  val ops = new SparkOps(spark, log)
  val reads = new Reads(ops, log)
  def dir(name: String): String = s"$work/$name"
  def hadoopConf: org.apache.hadoop.conf.Configuration =
    spark.sparkContext.hadoopConfiguration
  /** Seconds from JVM start until the session was ready. */
  def startupS: Double = (readyMs - jvmStartMs) / 1000.0

  /** Repeat `round` for about `secs` seconds: a round starts only while
    * the time left exceeds half the last round's length, so runs end near
    * `secs` and always hold whole rounds (at least one). */
  def rounds(secs: Double)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    var r = 0
    var last = 0.0
    while (r == 0 || now + last / 2 < secs) {
      val s = now; round(r); last = now - s; r += 1
    }
    r
  }

  /** The counted rounds: ops are attempted, timed and checked. */
  def timedRounds(round: Int => Unit): Int = {
    log.counting = true
    try rounds(seconds)(round) finally log.counting = false
  }
}

/** What a workload hands back: end-to-end metrics (untraced run) and
  * per-layer metrics (traced run), as (name, unit, value). */
final case class Result(endToEnd: Seq[(String, String, Double)],
                        perLayer: Seq[(String, String, Double)],
                        info: Seq[(String, String)])

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload bulk|probe " +
      "--seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE] | --selftest")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (args.contains("--selftest")) { sys.exit(if (SelfTest.run()) 0 else 1) }
    val workload = kv.getOrElse("--workload", usage("--workload missing"))
    val seed = kv.get("--seed").flatMap(_.toLongOption).getOrElse(usage("bad --seed"))
    val seconds = kv.get("--seconds").flatMap(_.toDoubleOption)
      .filter(_ > 0).getOrElse(usage("bad --seconds"))
    val trace = kv.getOrElse("--trace", "0") match {
      case "0" => false; case "1" => true; case o => usage(s"bad --trace $o")
    }
    val work = kv.getOrElse("--work", usage("--work missing"))
    val w = Workload.all.getOrElse(workload, usage(s"unknown workload $workload"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    new java.io.File(work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.bench", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.bench.root", s"$work/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Tracer(trace), seed, seconds, work, cores,
      jvmStartMs, System.currentTimeMillis())
    val res = new Runner(ctx, w).run()
    val heapMb = retainedHeapMb()
    val log = ctx.log
    val metrics =
      if (!trace) res.endToEnd :+ (("retained_heap_mb", "MB", heapMb))
      else res.perLayer
    kv.get("--trace-out").filter(_ => trace).foreach { path =>
      val extra = Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "end_to_end_traced" -> Json.obj(res.endToEnd.map { case (n, _, v) => n -> Json.num(v) }),
        "per_layer" -> Json.obj(res.perLayer.map { case (n, _, v) => n -> Json.num(v) }),
        "ops" -> opsJson(log),
        "info" -> Json.obj(res.info.map { case (k, v) => k -> Json.str(v) }))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), ctx.tracer.toJson(extra))
    }
    System.err.println(s"[perfbench] $workload seed=$seed ops=${opsJson(log)} " +
      res.info.map { case (k, v) => s"$k=$v" }.mkString(" "))
    spark.stop()
    val correct = log.mismatches.isEmpty
    val out = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> log.totalAttempted.toString,
      "failed" -> log.totalFailed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    println(out)
  }

  private def opsJson(log: OpLog): String =
    Json.obj(log.attempted.toSeq.map { case (op, n) =>
      op -> Json.obj(Seq("attempted" -> n.toString,
        "failed" -> log.failed.getOrElse(op, 0).toString)) })

  /** Used heap after a forced full GC, in MB. */
  private def retainedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(100); i += 1 }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
