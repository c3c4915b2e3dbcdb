package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import graft.{RoundClock, SparkEntry}

/** Benchmark JVM: set-up, then one client in a closed loop over the
  * workload's ops for `--seconds`, each op's output checked, then a
  * JSON result file for run.py. Usage (run.py builds the arguments):
  *
  *   Harness --config <config.json>     run one workload
  *   Harness --dump-oracle <file.json>  write the DuckDB twins of the
  *                                      catalog mix
  */
object Harness {
  private val json = new ObjectMapper()
  val minSetups = 3
  val maxSetups = 9

  final case class Sample(name: String, items: Long, sec: Double, ok: Boolean)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--dump-oracle", file) =>
      val sql = SparkEntry.oracleSql
      val m = new java.util.TreeMap[String, String](Catalog.mix.map(n => n -> sql(n)).toMap.asJava)
      json.writerWithDefaultPrettyPrinter().writeValue(new File(file), m)
    case Seq("--config", file) =>
      val c = json.readTree(new File(file))
      val result = run(c)
      json.writerWithDefaultPrettyPrinter().writeValue(new File(c.get("result").asText), result)
      System.exit(0)
    case _ =>
      System.err.println("usage: Harness --config <config.json> | --dump-oracle <file.json>")
      System.exit(2)
  }

  private def strMap(n: JsonNode): Map[String, String] =
    if (n == null) Map.empty
    else n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  private def wipe(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** The session of graft.Bench, rooted in this run's directory. */
  def session(root: String, cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.local.dir", s"$root/local")
    .config("spark.sql.warehouse.dir", s"$root/warehouse")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .getOrCreate()

  /** The sweep graft.Bench does after every query. */
  private def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(c: JsonNode): java.util.Map[String, Object] = {
    val w = Workloads.all(c.get("workload").asText)
    val root = c.get("root").asText
    val cpus = c.get("cpus").asInt
    val seconds = c.get("seconds").asDouble
    val traced = c.get("trace").asInt == 1
    val corrupt = c.get("corrupt").asBoolean
    val ctx = Ctx(root, c.get("data").asText, c.get("season_in").asText,
      c.get("seed").asLong, c.get("default_seed").asLong,
      strMap(c.get("manifest")).map { case (k, v) => k -> v.toLong },
      strMap(c.get("expected")), strMap(c.get("pinned")))
    val layer = mutable.LinkedHashMap[String, Double]()
    val failures = mutable.ArrayBuffer[String]()
    val recorded = new java.util.TreeMap[String, String]()

    // ---- set-up, repeated: session start, registry init, artifact builds.
    // The query registry is built once per JVM and the first session
    // start is the cold one, so only the first set-up pays both; the
    // later ones are warm session restarts plus the artifact builds.
    val artifactDirs = Seq("warehouse", "ivf", "dedup", "mv", "snap", "vocab").map(d => s"$root/$d")
    val setupSecs = mutable.ArrayBuffer[Double]()
    val sessionSecs = mutable.ArrayBuffer[Double]()
    val artifactSecs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var spark: SparkSession = null
    // at least three set-ups, and more while the warm ones (all but the
    // first, with their session stops) have taken under three seconds,
    // so a short set-up's median is taken over more samples
    var warmStart = 0L
    def enough = setupSecs.size >= maxSetups || (setupSecs.size >= minSetups &&
      (System.nanoTime() - warmStart) / 1e9 >= 3.0)
    while (!enough) {
      if (setupSecs.size == 1) warmStart = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      artifactDirs.foreach(wipe)
      val t0 = System.nanoTime()
      spark = session(root, cpus)
      spark.sparkContext.setLogLevel("ERROR")
      SparkEntry.queries
      sessionSecs += (System.nanoTime() - t0) / 1e9
      w.artifacts(ctx).foreach { case (name, build) =>
        val a0 = System.nanoTime()
        build(spark)
        artifactSecs.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - a0) / 1e9
        sweep(spark)
      }
      setupSecs += (System.nanoTime() - t0) / 1e9
    }

    // ---- one op: timed part, leak count, untimed check, sweep
    var corruptNext = corrupt
    var leaked = 0L
    var leakedPlans = 0L
    var tracer: Option[Tracer] = None
    val rounds = mutable.ArrayBuffer[RoundClock.Round]()
    var loopJobs = 0L
    def runOp(op: Op): Sample = {
      val jobs0 = tracer.map(_.jobs).getOrElse(0L)
      val t0 = System.nanoTime()
      val outcome = scala.util.Try(op.run(spark))
      val sec = (System.nanoTime() - t0) / 1e9
      val (rdds, plans) = (spark.sparkContext.getPersistentRDDs.size,
        PerfbenchAccess.cachedPlans(spark))
      leaked += rdds; leakedPlans += plans
      tracer.foreach(_.pause())
      // jobs of ops that ran a RoundClock-timed loop, for jobs per round
      val rs = RoundClock.drain()
      rounds ++= rs
      if (rs.nonEmpty) loopJobs += tracer.map(_.jobs).getOrElse(0L) - jobs0
      val err = outcome.flatMap(f => scala.util.Try {
        val fps = f(corruptNext)
        corruptNext = false
        fps.foreach { case (k, v) => if (!k.startsWith("count.")) recorded.put(s"${w.name}.$k", v.toString) }
        w.check(ctx, op, fps)
      }) match {
        case scala.util.Success(e) => e
        case scala.util.Failure(e) =>
          Some(s"${op.name}: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      err.foreach(failures += _)
      sweep(spark)
      tracer.foreach(_.resume())
      Sample(op.name, op.items, sec, err.isEmpty)
    }

    RoundClock.drain()
    val firstOp = runOp(w.first(ctx))
    // untimed warm-up, checked like every op: afterwards every timed op
    // is a warm execution, however many passes fit into the time
    val warmup = w.warmup(ctx).map(runOp)
    System.err.println(s"[perfbench] set-ups ${setupSecs.map(x => f"$x%.2f").mkString(" ")} s " +
      f"(cold session and registry ${sessionSecs.head}%.2f s), first op ${firstOp.sec}%.1f s, " +
      f"warm-up ${warmup.map(_.sec).sum}%.1f s")
    // the traced run counts the timed ops only, the ones op_p50_s is
    // taken over; the untraced run registers no listener at all
    leaked = 0; leakedPlans = 0; loopJobs = 0; rounds.clear()
    val tr = if (traced) Some(new Tracer(spark)) else None
    tracer = tr
    // closed loop: whole seed-ordered passes until the time is spent
    val samples = mutable.ArrayBuffer[Sample]()
    val loopStart = System.nanoTime()
    var pass = 0
    while ((System.nanoTime() - loopStart) / 1e9 < seconds) {
      samples ++= w.pass(ctx, ctx.seed * 1000 + pass).map(runOp)
      pass += 1
    }

    val result = new java.util.LinkedHashMap[String, Object]()
    val metrics = new java.util.LinkedHashMap[String, Object]()
    def metric(name: String, v: Double, unit: String): Unit = {
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("value", Double.box(v)); m.put("unit", unit)
      metrics.put(name, m)
    }

    val all = (firstOp +: (warmup ++ samples)).toSeq
    val steady = samples.map(_.sec).toSeq
    val items = samples.map(_.items).sum
    // the highest percentile with ten samples beyond it; below twenty
    // samples that would sit under the median, so the max stands in
    val tailQ = if (steady.size >= 20) 1.0 - 10.0 / steady.size else 1.0
    metric("setup_s", median(setupSecs.toSeq), "s")
    metric("first_op_s", firstOp.sec, "s")
    metric("op_p50_s", median(steady), "s")
    metric("op_tail_s", quantile(steady, tailQ), "s")
    metric("throughput", items / math.max(1e-9, steady.sum), "1/s")
    metric("ok_ratio", all.count(_.ok).toDouble / all.size, "ratio")
    metric("peak_rss_mb", vmHwmMb(), "MB")

    tr.foreach { t =>
      tracer = None
      t.pause()
      val n = samples.size.toDouble
      val busy = steady.sum
      layer("trace.overhead_ratio") = t.busyNs / 1e9 / busy
      layer("engine.plan_ms") = t.planMs / n
      layer("engine.codegen_ms") = t.codegenMs / n
      layer("engine.jobs") = t.jobs / n
      layer("engine.stages") = t.stages / n
      layer("engine.tasks") = t.tasks / n
      layer("engine.cpu_s") = t.cpuNs / 1e9 / n
      layer("engine.slot_idle_ratio") = 1 - t.runMs / 1e3 / (busy * cpus)
      layer("engine.shuffle_write_mb") = t.shuffleWriteBytes / 1e6 / n
      layer("engine.spill_mb") = t.spillBytes / 1e6 / n
      layer("engine.task_skew") = t.taskSkew
      layer("cache.leaked_rdds") = leaked / n
      layer("cache.leaked_plans") = leakedPlans / n
      layer("loops.rounds") = rounds.size / n
      layer("loops.round_s_p50") = median(rounds.map(_.sec).toSeq)
      layer("loops.jobs_per_round") = if (rounds.isEmpty) 0.0 else loopJobs.toDouble / rounds.size
      layer("pipelines.kernel_passes") = t.kernelPlans / n
      layer("io.sink_s") = t.sinkCommitMs / 1e3 / n
      t.remove()
      w.probe(ctx, spark, new Spans, layer)
      sweep(spark)
    }
    layer("setup.cold_s") = setupSecs.head
    layer("setup.session_s") = median(sessionSecs.toSeq)
    for (a <- Seq("fs_table", "mv_base"))
      layer(s"setup.artifact_s.$a") = artifactSecs.get(a).map(xs => median(xs.toSeq)).getOrElse(0.0)

    val layerJson = new java.util.LinkedHashMap[String, Object]()
    layer.foreach { case (k, v) => layerJson.put(k, Double.box(v)) }
    result.put("workload", w.name)
    result.put("attempted", Long.box(all.size.toLong))
    result.put("failed", Long.box(all.count(!_.ok).toLong))
    result.put("failures", failures.take(20).asJava)
    result.put("metrics", metrics)
    result.put("per_layer", if (traced) layerJson else new java.util.LinkedHashMap[String, Object]())
    result.put("tail",
      if (tailQ < 1) s"p${math.round(tailQ * 1000) / 10.0} of ${steady.size} ops"
      else s"max of ${steady.size} ops (fewer than 20)")
    result.put("samples", all.map(s => Seq[Object](s.name, Double.box(s.sec), Boolean.box(s.ok)).asJava).asJava)
    result.put("fingerprints", recorded)
    result.put("setups", Long.box(setupSecs.size.toLong))
    spark.stop()
    result
  }
}
