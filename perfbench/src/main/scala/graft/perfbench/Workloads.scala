package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.io.Sources
import graft.pipelines.{MaxParams, Report, Yap}
import graft.tools.RunSeason

/** One closed-loop operation: `run` does the timed work and returns the
  * untimed step that fingerprints its output (`corrupt` drops one row
  * first, to show that verification fires). */
final case class Op(name: String, items: Long, run: SparkSession => Boolean => Map[String, Fp])

/** What every workload has: its set-up artifacts, a fixed first op, an
  * untimed warm-up, a seed-ordered pass of ops, and the check of each
  * op's fingerprints. */
trait Workload {
  def name: String
  def artifacts(ctx: Ctx): Seq[(String, SparkSession => Unit)] = Nil
  def first(ctx: Ctx): Op
  /** Ops run once after the first, checked but not timed, so that every
    * timed op is a warm execution. */
  def warmup(ctx: Ctx): Seq[Op] = Nil
  def pass(ctx: Ctx, seed: Long): Seq[Op]
  def check(ctx: Ctx, op: Op, fps: Map[String, Fp]): Option[String]
  /** Traced run only: component spans and counters of this workload's layers. */
  def probe(ctx: Ctx, spark: SparkSession, spans: Spans, out: mutable.Map[String, Double]): Unit = ()
}

/** Paths and expectations handed over by run.py. */
final case class Ctx(root: String, data: String, seasonIn: String, seed: Long,
    defaultSeed: Long, manifest: Map[String, Long], expected: Map[String, String],
    pinned: Map[String, String]) {
  def seasonOut: String = s"$root/season_out"
}

object Workloads {

  val all: Map[String, Workload] =
    Seq(Season, Catalog).map(w => w.name -> w).toMap

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def fpRows(cols: Seq[String], rows: Array[Row], corrupt: Boolean): Fp =
    Fingerprint.of(cols, (if (corrupt) rows.drop(1) else rows).iterator)

  /** A registry query: one op is one query collected to the driver. The
    * collect forces every column, as graft.Bench's noop sink does, and
    * hands the rows to the check without a second execution. */
  def queryOp(ctx: Ctx, name: String): Op = Op(name, 1, spark => {
    val df = SparkEntry.queries(name)(spark, ctx.data)
    val rows = df.collect()
    corrupt => Map(name -> fpRows(df.columns.toSeq, rows, corrupt))
  })

  def compare(name: String, got: Fp, want: Option[String]): Option[String] = want match {
    case None => Some(s"$name: no expected fingerprint")
    case Some(w) if w != got.toString => Some(s"$name: fingerprint $got, expected $w")
    case _ => None
  }

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)
}

/** The paper's path: RunSeason over seeded Kaggle-layout CSVs, then the
  * player and max-params reports over its outputs. */
object Season extends Workload {
  val name = "season"
  private val outputs = Seq("tackler_YAP", "max_params_opt", "max_params",
    "optimal_paths", "run_errors", "parse_rejects")
  private var reference: Option[Map[String, Fp]] = None
  private val reportSecs = mutable.ArrayBuffer[Double]()

  private def op(ctx: Ctx) = Op("season", ctx.manifest("plays"), spark => {
    val out = ctx.seasonOut
    val counts = RunSeason.run(spark, ctx.seasonIn, out, 1.0)
    val yap = Sources.csv(spark, s"$out/tackler_YAP", Sources.yapMetricSchema)
    val mp = Sources.csv(spark, s"$out/max_params", Sources.maxParamsMetricSchema)
    val mpo = Sources.csv(spark, s"$out/max_params_opt", Sources.maxParamsMetricSchema)
    val player = Report.playerReport(yap, mp, mpo)
    val byPosition = Report.maxParamsReport(mp)
    val t0 = System.nanoTime()
    val (pr, mr) = (player.collect(), byPosition.collect())
    reportSecs += (System.nanoTime() - t0) / 1e9
    corrupt => {
      val dirs = outputs.map(o => o -> Fingerprint.ofCsvDir(s"$out/$o")).toMap
      dirs ++ Map(
        "player_report" -> Workloads.fpRows(player.columns.toSeq, pr, corrupt),
        "max_params_report" -> Workloads.fpRows(byPosition.columns.toSeq, mr, false)) ++
        counts.map { case (k, n) => s"count.$k" -> Fp(n, "") }
    }
  })

  def first(ctx: Ctx): Op = op(ctx)
  def pass(ctx: Ctx, seed: Long): Seq[Op] = Seq(op(ctx))

  def check(ctx: Ctx, o: Op, fps: Map[String, Fp]): Option[String] = {
    val m = ctx.manifest
    val want = Seq(
      "tackler_YAP" -> m("yap_rows"), "max_params_opt" -> m("yap_rows"),
      "max_params" -> m("tackles"), "run_errors" -> m("error_rows"),
      "parse_rejects" -> m("parse_rejects"))
    val countErr = want.collectFirst {
      case (k, n) if fps(k).rows != n || fps(s"count.$k").rows != n =>
        s"$k: ${fps(k).rows} rows, expected $n"
    }
    val shapeErr =
      if (fps("player_report").rows < 1) Some("player_report: no player passes n >= 50")
      else if (fps("max_params_report").rows < 4)
        Some(s"max_params_report: ${fps("max_params_report").rows} position groups, expected 4 or more")
      else if (fps("optimal_paths").rows < 1) Some("optimal_paths: empty")
      else None
    // the default seed is pinned; any other seed must repeat its first op
    val ref = if (ctx.seed == ctx.defaultSeed) Some(ctx.pinned.map {
      case (k, v) => k.stripPrefix("season.") -> v
    }) else reference.map(_.map { case (k, v) => k -> v.toString })
    val fpErr = ref.flatMap(r => fps.keys.toSeq.sorted.filterNot(_.startsWith("count."))
      .flatMap(k => Workloads.compare(s"season.$k", fps(k), r.get(k))).headOption)
    val err = countErr.orElse(shapeErr).orElse(fpErr)
    if (err.isEmpty && reference.isEmpty) reference = Some(fps)
    err
  }

  override def probe(ctx: Ctx, spark: SparkSession, spans: Spans,
      out: mutable.Map[String, Double]): Unit = {
    val in = ctx.seasonIn
    def inputs(f: (String, org.apache.spark.sql.types.StructType) => DataFrame) = Seq(
      f(s"$in/tracking_week_*.csv", Sources.trackingSchema),
      f(s"$in/plays.csv", Sources.playsSchema),
      f(s"$in/players.csv", Sources.playersSchema),
      f(s"$in/tackles.csv", Sources.tacklesSchema))
    spans("io.scan")(inputs(Sources.csv(spark, _, _)).foreach(Workloads.noop))
    spans("io.reject_sweep")(inputs(Sources.csvRejects(spark, _, _)).foreach(Workloads.noop))
    val Seq(tracking, plays, players, tackles) = inputs(Sources.csv(spark, _, _))
    val frames = Yap.playFrames(spark, tracking, plays, players, tackles)
    // the kernel is a small share of Yap.run, so both sides of the
    // difference are the best of three
    def best(body: => Unit): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min
    val assemble = best(Workloads.noop(frames.toDF()))
    val yapRun = best(Workloads.noop(Yap.run(spark, tracking, plays, players, tackles).toDF()))
    spans("pipelines.maxparams")(Workloads.noop(MaxParams.run(spark, tracking, plays, players, tackles)))
    out("pipelines.assemble_s") = assemble
    out("kernel.self_s") = yapRun - assemble
    out("pipelines.maxparams_s") = spans.total("pipelines.maxparams")
    // the timed ops only: the first op's reports are the cold ones
    val warmReports = reportSecs.drop(1).sorted
    out("pipelines.report_s") = warmReports(warmReports.size / 2)
    out("io.scan_s") = spans.total("io.scan")
    out("io.reject_sweep_s") = spans.total("io.reject_sweep")

    // driver-local kernel: a fixed sample of plays (the first seven of
    // each game), one thread
    val sample = frames.where(col("playId") <= 200).collect()
      .groupBy(f => (f.gameId, f.playId)).toSeq.sortBy(_._1)
    val us = for (_ <- 1 to 5; ((g, p), fs) <- sample) yield {
      val t0 = System.nanoTime()
      Yap.processPlay(g, p, fs.toSeq, 1.0).size
      (System.nanoTime() - t0) / 1e3
    }
    val s = us.sorted
    out("kernel.play_us_p50") = s(s.size / 2)
    out("kernel.play_us_p99") = s(math.min(s.size - 1, (s.size * 0.99).toInt))

    val yap = spark.read.option("header", "true").csv(s"${ctx.seasonOut}/tackler_YAP")
    val all = yap.count()
    out("kernel.feasible_ratio") =
      if (all == 0) 0.0 else yap.where(col("YAP").isNotNull).count().toDouble / all
    out("io.bytes_written_mb") = Harness.dirBytes(ctx.seasonOut) / 1e6
  }
}

/** Short registry queries whose fixed per-query cost (planning, codegen,
  * job and task scheduling) dominates; no kernel work. The first op is
  * the cold one; the timed ops are warm executions after one untimed
  * pass over the mix. */
object Catalog extends Workload {
  val name = "catalog"
  /** Stratified by module family; the first entry always runs first. */
  val mix: Seq[String] = Seq(
    "a4_group_stats",
    // relational: range filter, broadcast join, as-of join, dedup, set op
    "f4_range", "j1_enrich_bcast", "j7_asof", "a1_dropdup", "u3_intersect",
    // aggregation, report and window operators
    "a3_describe", "o3_topk", "w8_sessions",
    // quality and text
    "dq_profile", "ts_stats",
    // persisted artifacts: snapshot table and stored MV
    "fs_snapshot", "mv_refresh",
    // a driver-side convergence loop, timed per round by RoundClock
    "pr_pagerank_conv")

  override def artifacts(ctx: Ctx): Seq[(String, SparkSession => Unit)] = Seq(
    "fs_table" -> (s => graft.ops.Snapshot.ensureTable(s, ctx.data)),
    "mv_base" -> (s => graft.ops.Materialized.ensureMvFor(s, ctx.data)))

  def first(ctx: Ctx): Op = Workloads.queryOp(ctx, mix.head)
  override def warmup(ctx: Ctx): Seq[Op] = mix.tail.map(Workloads.queryOp(ctx, _))
  def pass(ctx: Ctx, seed: Long): Seq[Op] =
    Workloads.shuffled(mix, seed).map(Workloads.queryOp(ctx, _))
  def check(ctx: Ctx, op: Op, fps: Map[String, Fp]): Option[String] =
    Workloads.compare(op.name, fps(op.name), ctx.expected.get(op.name))
}
