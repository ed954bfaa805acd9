package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Geocoder
import graft.core.{CellMath, Geo, Text}
import graft.functions.F
import graft.index.CellIndex
import graft.jobs.ForwardJob
import graft.ops.Geocode
import graft.pipeline.Checkpoint
import graft.queries.Queries
import graft.synth.Synth

/** One benchmark run: a workload's set-up, its timed operations and, with
  * tracing on, the per-layer measurements. Writes `result.json` (and
  * `spans.jsonl` when traced) into the work directory; `run.py` turns that
  * into the reported metrics and checks the outputs against the oracles.
  *
  * Usage: PerfBench --workload W --data DIR --work DIR --seconds S
  *                  --trace 0|1 --cores C --seed N
  */
object PerfBench {

  final case class Args(workload: String, data: String, work: String, seconds: Double,
                        trace: Boolean, cores: Int, seed: Long)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val args = Args(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("seed").toLong)
    val result = new Runner(args).run()
    Files.write(Paths.get(args.work, "result.json"), Json.value(result).getBytes("UTF-8"))
  }

  def newSession(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // Spark's status store keeps finished jobs, stages, tasks and SQL
      // executions on the heap; a small fixed history keeps retained_mb
      // independent of how many operations a run fits in
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the engine's session extensions, as its own entry points install them
    graft.plans.GraftExtensions.install(s)
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Writes the repository's forward-geocode oracle SQL and the gazetteer's
  * names (which the oracle's rows need for `place_name`) into a directory.
  * Usage: OracleDump DIR */
object OracleDump {
  def main(argv: Array[String]): Unit = {
    val dir = Paths.get(argv(0))
    Files.createDirectories(dir)
    Files.write(dir.resolve("oracle_fwd.sql"), Queries.fwdGeocodeSql.getBytes("UTF-8"))
    Files.write(dir.resolve("gazetteer.json"), Json.value(
      Synth.gazetteer.map(g => g.id.toString -> g.name).toMap).getBytes("UTF-8"))
  }
}

/** Output columns of the calls, in the program's order. */
object Cols {
  val Fwd = Seq("doc_id", "feature_id", "typ", "relev", "cell", "ctx", "sd", "rank", "place_name")
  /** The indexed job's rows carry no place name. */
  val Job: Seq[String] = Fwd.init
  val Rev = Seq("event_id", "typ", "feature_id", "via")
}

/** Row count plus two order-independent folds of a 64-bit row hash. */
final case class Fp(rows: Long, xor: Long, sum: Long)

object Fp {
  def of(df: DataFrame): Fp = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xffffffffL)))).head()
    Fp(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** What workloads share: the live session, the tracer and the arguments. */
final class Ctx(val args: PerfBench.Args, val tracer: Tracer) {
  var spark: SparkSession = _
  /** Spans are recorded only while this is on. */
  var tracing = false
  def span[T](name: String)(body: => T): T = if (tracing) tracer.span(name)(body) else body
  def work(name: String): String = s"${args.work}/$name"
}

/** `dataDir` points a workload at inputs other than the run's own (the
  * `side/` inputs of a traced run's side measurements). */
abstract class Workload(val ctx: Ctx, dataDir: Option[String] = None) {
  def spark: SparkSession = ctx.spark
  def data: String = dataDir.getOrElse(ctx.args.data)
  /** Name of the span around one traced operation. */
  def root: String
  /** Items one operation processes: documents, points or calls. */
  def items(i: Int): Long
  /** Reads the generated tables (set-up). */
  def readInputs(): Unit
  /** The program's one-time builds (set-up). */
  def build(): Unit = ()
  /** One timed operation. */
  def op(i: Int): Unit
  /** Set-up's warm pass: the operation once over the small warm-up slice
    * (`<data>/warm`), which triggers the program's lazy one-time work. */
  def warm(): Unit
  /** Untimed, once before the timed loop: fingerprints the oracle's rows
    * (`<work>/expected-<kind>.parquet`, written by run.py). */
  def expect(): Unit
  /** Untimed: whether operation i's output has the oracle's fingerprint. */
  def check(i: Int): Boolean
  /** Untimed, after the first failed check: writes operation i's output
    * into `dir`; returns what the checker needs to compare it. */
  def dump(i: Int, dir: String): Map[String, Any]
  /** One operation staged into per-layer spans (traced runs). */
  def tracedOp(i: Int): Unit = op(i)
  /** Kind of operation i, reported beside its latency. */
  def label(i: Int): String = root
  /** Per-layer metrics of the traced run. */
  def layers(t: Tracer): Map[String, Double] = Map.empty
  /** Untimed facts about the inputs, reported beside the metrics. */
  def info: Map[String, Any] = Map.empty
  /** Traced runs only: the layers this workload bypasses, measured once
    * over small side inputs, so that a bulk trace measures every layer. */
  def sideLayers(): Map[String, Double] = Map.empty

  /** This workload's layers measured once, by another workload's traced
    * run: read the inputs, then one staged operation. */
  def measureOnce(): Map[String, Double] = {
    readInputs()
    ctx.spark.catalog.clearCache()
    ctx.span(root)(tracedOp(0))
    layers(ctx.tracer)
  }

  protected def side: Option[String] = Some(s"${ctx.args.data}/side")

  protected def apiSide(calls: Int, dir: Option[String] = None): Map[String, Double] = {
    val api = new ApiSmall(ctx, dir)
    api.readInputs()
    api.sideCalls(calls)
    api.layers(ctx.tracer)
  }

  /** The reverse index levels: continents at z4, countries at z6, places
    * at z8, each with its stored WKB geometry. */
  protected def reverseFeatures(dir: String): Seq[(String, DataFrame, Int)] =
    Seq(("continent", 4), ("country", 6), ("place", 8)).map { case (typ, z) =>
      (typ, spark.read.parquet(s"$dir/$typ.parquet"), z)
    }

  /** The oracle's rows for calls of `kind`, as the program's columns. */
  protected def expected(kind: String, cols: Seq[String]): DataFrame = {
    val e = spark.read.parquet(ctx.work(s"expected-$kind.parquet"))
    (if (kind == "fwd") e.withColumn("rank", col("rank").cast("int")) else e)
      .select(cols.map(col): _*)
  }

  /** The check's own test: the expected rows with one value changed must
    * not have the expected rows' fingerprint. */
  def plantedRowCaught(kind: String, cols: Seq[String]): Boolean = {
    val e = expected(kind, cols)
    val one = e.orderBy(cols.map(col): _*).limit(1)
    val planted = e.exceptAll(one)
      .unionByName(one.withColumn("feature_id", col("feature_id") + 1))
    Fp.of(planted) != Fp.of(e)
  }

  protected def selfS(t: Tracer, name: String): Double =
    PerfBench.median(t.named(name).map(s => t.selfNs(s) / 1e9))

  protected def shuffleMb(t: Tracer, name: String): Double =
    PerfBench.median(t.named(name).map(s => t.counts(s).shuffleWriteBytes / 1048576.0))
}

/** fwd_bulk: batch Geocoder.forward over the pages table. */
final class FwdBulk(ctx: Ctx, dataDir: Option[String] = None) extends Workload(ctx, dataDir) {
  private var pages: DataFrame = _
  private var gaz: DataFrame = _
  private var geocoder: Geocoder = _
  private var n = 0L
  private var want: Fp = _
  private var last: Fp = _
  private val stageRows = mutable.Map.empty[String, Double]

  def root = "fwd.pass"
  def items(i: Int): Long = n

  def readInputs(): Unit = {
    pages = Synth.docPages(spark, data)
    n = pages.count()
    gaz = Synth.gazDf(spark)
    geocoder = new Geocoder(spark, gaz)
  }

  def op(i: Int): Unit = last = Fp.of(geocoder.forward(pages))
  def warm(): Unit = Fp.of(geocoder.forward(Synth.docPages(spark, s"$data/warm")))
  def expect(): Unit = want = Fp.of(expected("fwd", Cols.Fwd))
  def check(i: Int): Boolean = last == want
  def dump(i: Int, dir: String): Map[String, Any] = {
    geocoder.forward(pages).write.parquet(dir)
    Map("kind" -> "fwd", "cols" -> Cols.Fwd)
  }

  /** Geocoder.forward in stages: each stage's output is cached and counted
    * inside its own span, then the API call runs over those caches (its
    * plans resolve to the cached stage outputs) and keeps only the work
    * above the stages. The window stage is fused into mention extraction in
    * the real plan, so it is materialized alone as a side measurement. */
  override def tracedOp(i: Int): Unit = {
    val maxLen = Geocode.maxNameTokens(gaz)
    stageRows("windows") = ctx.span("ops.windows") {
      Geocode.tokenWindowsPos(pages, maxLen).count().toDouble
    }
    val m = Geocode.mentions(pages, gaz).persist()
    stageRows("mentions") = ctx.span("ops.mentions")(m.count().toDouble)
    val c = Geocode.coalesce2(m).persist()
    stageRows("coalesce") = ctx.span("ops.coalesce")(c.count().toDouble)
    val r = Geocode.rank(c).persist()
    stageRows("rank") = ctx.span("ops.rank")(r.count().toDouble)
    last = ctx.span("api.forward")(Fp.of(geocoder.forward(pages)))
  }

  override def layers(t: Tracer): Map[String, Double] = Map(
    "ops.windows.self_s" -> selfS(t, "ops.windows"),
    "ops.windows.rows" -> stageRows("windows"),
    "ops.mentions.self_s" -> selfS(t, "ops.mentions"),
    "ops.mentions.rows" -> stageRows("mentions"),
    "ops.mentions.hit_ratio" -> stageRows("mentions") / math.max(1.0, stageRows("windows")),
    "ops.coalesce.self_s" -> selfS(t, "ops.coalesce"),
    "ops.coalesce.rows" -> stageRows("coalesce"),
    "ops.coalesce.shuffle_mb" -> shuffleMb(t, "ops.coalesce"),
    "ops.rank.self_s" -> selfS(t, "ops.rank"),
    "ops.rank.rows" -> stageRows("rank"),
    "ops.rank.shuffle_mb" -> shuffleMb(t, "ops.rank"),
    "api.forward.self_s" -> selfS(t, "api.forward"),
    "core.text.tokenize_ns" -> Kernels.tokenizeNs(pages))

  override def info: Map[String, Any] = Map("pages" -> n)

  override def sideLayers(): Map[String, Double] =
    new FwdJob(ctx).measureOnce() ++ new RevBulk(ctx, side).measureOnce() ++
      apiSide(calls = 2, side) ++ apiSide(calls = 3)
}

/** fwd_job: ForwardJob.runIndexed, the checkpointed indexed job. */
final class FwdJob(ctx: Ctx, dataDir: Option[String] = None) extends Workload(ctx, dataDir) {
  private var n = 0L
  private var want: Fp = _
  private var gridRows = 0L
  private val stageRows = mutable.Map.empty[String, Double]
  private var lastTracedOut: String = _

  def root = "job.run"
  def items(i: Int): Long = n
  private def out(i: Int) = ctx.work(s"job-out-$i")

  def readInputs(): Unit = n = Synth.docPages(spark, data).count()

  override def build(): Unit = ctx.span("index.grid.build") {
    gridRows = Queries.gazGridParquet(spark).count()
  }

  def op(i: Int): Unit = ForwardJob.runIndexed(spark, data, out(i))
  def warm(): Unit = {
    ForwardJob.runIndexed(spark, s"$data/warm", out(-1))
    Dirs.delete(out(-1))
  }

  private def rows(i: Int) = Checkpoint.readAll(spark, out(i)).select(Cols.Job.map(col): _*)

  def expect(): Unit = want = Fp.of(expected("fwd", Cols.Job))

  def check(i: Int): Boolean = {
    val ok = Fp.of(rows(i)) == want
    if (ok && out(i) != lastTracedOut) Dirs.delete(out(i))
    ok
  }

  def dump(i: Int, dir: String): Map[String, Any] = {
    rows(i).write.parquet(dir)
    Map("kind" -> "fwd", "cols" -> Cols.Job)
  }

  /** The job in two stages: the indexed forward geocode (cached and counted,
    * with the same result expression the job builds, so the job's own plan
    * resolves to it), then the job itself, which is left with the per-range
    * checkpoint writes. */
  override def tracedOp(i: Int): Unit = {
    val docs = Synth.docPages(spark, data)
    stageRows("windows") = ctx.span("ops.windows") {
      Geocode.tokenWindowsPos(docs, Geocode.maxNameTokens(Synth.gazDf(spark))).count().toDouble
    }
    val results = Geocode.forwardIndexed(docs, Queries.gazGridParquet(spark), Synth.gazDf(spark))
      .withColumn("hkey", F.hilbertCell(F.parentCell(col("cell"), lit(8))))
      .persist()
    ctx.span("ops.fwd_indexed")(results.count())
    if (lastTracedOut != null) Dirs.delete(lastTracedOut)
    lastTracedOut = out(i)
    ctx.span("pipeline.ranges")(ForwardJob.runIndexed(spark, data, out(i)))
  }

  override def layers(t: Tracer): Map[String, Double] = {
    val lineage = Files.readAllLines(Paths.get(lastTracedOut, "_lineage.jsonl")).asScala.toSeq
    val walls = lineage.flatMap(l => "\"wall_ms\": (\\d+)".r.findFirstMatchIn(l))
      .map(_.group(1).toDouble / 1000.0)
    val fi = t.named("ops.fwd_indexed").lastOption.map(t.counts)
    Map(
      "ops.windows.self_s" -> selfS(t, "ops.windows"),
      "ops.windows.rows" -> stageRows("windows"),
      "index.grid.build_s" -> PerfBench.median(t.named("index.grid.build").map(_.durNs / 1e9)),
      "index.grid.rows" -> gridRows.toDouble,
      "index.prefilter.pass_ratio" -> fi.map(c =>
        c.rows("prefilter.out").toDouble / math.max(1L, c.rows("prefilter.in"))).getOrElse(0.0),
      "ops.fwd_indexed.self_s" -> selfS(t, "ops.fwd_indexed"),
      "ops.fwd_indexed.shuffle_mb" -> shuffleMb(t, "ops.fwd_indexed"),
      "pipeline.range.write_s" -> walls.sum,
      "pipeline.range.max_s" -> (if (walls.isEmpty) 0.0 else walls.max),
      "pipeline.write_mb" -> Dirs.size(lastTracedOut) / 1048576.0,
      "pipeline.ranges" -> walls.size.toDouble,
      "core.text.tokenize_ns" -> Kernels.tokenizeNs(Synth.docPages(spark, data)))
  }

  override def info: Map[String, Any] = Map("pages" -> n, "grid_rows" -> gridRows)

  /** The job's layers measured once over another workload's documents:
    * the grid-index build, then one staged job. */
  override def measureOnce(): Map[String, Double] = {
    readInputs()
    build()
    ctx.spark.catalog.clearCache()
    ctx.span(root)(tracedOp(0))
    layers(ctx.tracer).filter { case (k, _) =>
      k.startsWith("index.") || k.startsWith("ops.fwd_indexed.") || k.startsWith("pipeline.")
    }
  }
}

/** rev_bulk: batch Geocoder.reverse over the probe points. */
final class RevBulk(ctx: Ctx, dataDir: Option[String] = None) extends Workload(ctx, dataDir) {
  private var points: DataFrame = _
  private var typed: Seq[(String, DataFrame, Int)] = _
  private var geocoder: Geocoder = _
  private var n = 0L
  private var want: Fp = _
  private var last: Fp = _
  private val KnnZ = 8

  def root = "rev.pass"
  def items(i: Int): Long = n

  def readInputs(): Unit = {
    points = spark.read.parquet(s"$data/points.parquet")
    n = points.count()
    typed = reverseFeatures(data)
    typed.foreach(_._2.count())
    geocoder = new Geocoder(spark, Synth.gazDf(spark))
  }

  def op(i: Int): Unit = last = Fp.of(geocoder.reverse(points, typed, KnnZ))
  def warm(): Unit =
    Fp.of(geocoder.reverse(spark.read.parquet(s"$data/warm/points.parquet"), typed, KnnZ))
  def expect(): Unit = want = Fp.of(expected("rev", Cols.Rev))
  def check(i: Int): Boolean = last == want
  def dump(i: Int, dir: String): Map[String, Any] = {
    geocoder.reverse(points, typed, KnnZ).write.parquet(dir)
    Map("kind" -> "rev", "cols" -> Cols.Rev)
  }

  /** Geocoder.reverse in stages: the containment chain (cached and
    * counted), the kNN fallback over the points it leaves unmatched (the
    * same residual expression the API builds, so the API's rounds resolve
    * to these cached rounds), then the API call itself. */
  override def tracedOp(i: Int): Unit = {
    val pip = Geocode.contextChain(points, typed).persist()
    ctx.span("ops.context")(pip.count())
    val unmatched = points.join(pip.withColumn("via", lit("pip")).select("event_id").distinct(),
      Seq("event_id"), "left_anti")
    val fallback = typed.last._2.select(col("feature_id"), col("flon"), col("flat"))
    ctx.span("ops.knn")(Geocode.knnExpanding(unmatched, fallback, KnnZ))
    last = ctx.span("api.reverse")(Fp.of(geocoder.reverse(points, typed, KnnZ)))
  }

  override def layers(t: Tracer): Map[String, Double] = {
    val knn = t.named("ops.knn")
    val kc = knn.lastOption.map(t.counts)
    val cover = typed.map { case (_, f, z) =>
      val t0 = System.nanoTime()
      val idx = CellIndex.buildFromFeatures(f, z)
      (idx.size.toDouble, (System.nanoTime() - t0) / 1e9)
    }
    val (candidates, hits) = pipCalls()
    Map(
      "ops.context.self_s" -> selfS(t, "ops.context"),
      "ops.context.shuffle_mb" -> shuffleMb(t, "ops.context"),
      "ops.pip.candidates" -> candidates,
      "ops.pip.hits" -> hits,
      "ops.pip.hit_ratio" -> hits / math.max(1.0, candidates),
      "ops.knn.self_s" -> selfS(t, "ops.knn"),
      "ops.knn.rounds" -> kc.map(_.rows("knn.rounds").toDouble).getOrElse(0.0),
      "ops.knn.residual_rows" -> kc.map(_.rows("knn.residual_rows").toDouble).getOrElse(0.0),
      "ops.knn.probe_rows" -> kc.map(_.rows("knn.probe_rows").toDouble).getOrElse(0.0),
      "ops.knn.busy_frac" -> PerfBench.median(knn.map(s =>
        t.counts(s).taskMs / (ctx.args.cores * s.durNs / 1e6))),
      "api.reverse.self_s" -> selfS(t, "api.reverse"),
      "index.cover.entries" -> cover.map(_._1).sum,
      "index.cover.build_s" -> cover.map(_._2).sum,
      "core.geo.pip_ns" -> Kernels.pipNs(spark, data),
      "core.cellmath.cell_ns" -> Kernels.cellNs(spark, data))
  }

  /** Evaluations and true results of the ray-cast PIP test in one
    * containment-chain pass: the program's own plan, re-planned with every
    * `pip_wkb` call wrapped in a counter. */
  private def pipCalls(): (Double, Double) = {
    val sc = spark.sparkContext
    val evals = sc.longAccumulator("pip evaluations")
    val hits = sc.longAccumulator("pip hits")
    val counted = org.apache.spark.sql.perfbench.PlanRewrite(Geocode.contextChain(points, typed)) {
      case e if e.prettyName == "pip_wkb" => CountingPip(e, evals, hits)
    }
    counted.count()
    (evals.value.toDouble, hits.value.toDouble)
  }

  override def info: Map[String, Any] = Map("points" -> n)

  override def sideLayers(): Map[String, Double] =
    new FwdBulk(ctx, side).measureOnce() ++ new FwdJob(ctx, side).measureOnce() ++
      apiSide(calls = 3, side) ++ apiSide(calls = 2)
}

/** api_small: one client's closed loop of small calls on in-memory batches,
  * alternating Geocoder.forward (a batch of pages) and Geocoder.reverse (a
  * batch of points), each call's rows collected by the client. The kinds
  * are those with batches in `batches.txt`, so the same class also makes
  * the small-call side measurement of the bulk workloads' traced runs. */
final class ApiSmall(ctx: Ctx, dataDir: Option[String] = None) extends Workload(ctx, dataDir) {
  private var batches: Map[String, IndexedSeq[DataFrame]] = Map.empty
  private var batchIds: Map[String, IndexedSeq[Array[Long]]] = Map.empty
  private var kinds: IndexedSeq[String] = IndexedSeq.empty
  private var typed: Seq[(String, DataFrame, Int)] = _
  private var geocoder: Geocoder = _
  private var lastRows: Array[Row] = _
  private var lastSchema: org.apache.spark.sql.types.StructType = _
  private val wants = mutable.Map.empty[(String, Int), Fp]
  private val planMs = ArrayBuffer.empty[Double]
  private val execMs = ArrayBuffer.empty[Double]
  private val tracedKinds = ArrayBuffer.empty[String]
  private val sideSpans = ArrayBuffer.empty[Span]

  def root = "api.call"
  def items(i: Int): Long = 1L
  private def kind(i: Int) = kinds(math.floorMod(i, kinds.size))
  private def batch(i: Int) = math.floorMod(i / kinds.size, batches(kind(i)).size)

  def readInputs(): Unit = {
    val lines = Files.readAllLines(Paths.get(data, "batches.txt")).asScala.toIndexedSeq
    def ids(k: String) = lines.filter(_.startsWith(k + " ")).map(_.split(' ').tail.map(_.toLong))
    kinds = IndexedSeq("fwd", "rev").filter(k => ids(k).nonEmpty)
    batchIds = kinds.map(k => k -> ids(k)).toMap
    if (kinds.contains("fwd")) {
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val rows = docs.collect().map(r => r.getLong(0) -> r).toMap
      batches += "fwd" -> ids("fwd").map { b =>
        spark.createDataFrame(b.map(rows).toSeq.asJava, docs.schema)
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"),
            Synth.docLon(col("doc_id")).as("qlon"), Synth.docLat(col("doc_id")).as("qlat"))
      }
    }
    if (kinds.contains("rev")) {
      val pts = spark.read.parquet(s"$data/points.parquet")
      val rows = pts.collect().map(r => r.getLong(0) -> r).toMap
      batches += "rev" -> ids("rev").map(b =>
        spark.createDataFrame(b.map(rows).toSeq.asJava, pts.schema))
      typed = reverseFeatures(data)
      typed.foreach(_._2.count())
    }
    geocoder = new Geocoder(spark, Synth.gazDf(spark))
  }

  private def call(i: Int): DataFrame =
    if (kind(i) == "fwd") geocoder.forward(batches("fwd")(batch(i)))
    else geocoder.reverse(batches("rev")(batch(i)), typed)

  /** The client collects the call's rows. */
  private def collect(df: DataFrame): Unit = {
    lastRows = df.collect()
    lastSchema = df.schema
  }
  private def last: DataFrame = spark.createDataFrame(lastRows.toSeq.asJava, lastSchema)

  def op(i: Int): Unit = collect(call(i))
  def warm(): Unit = kinds.indices.foreach(op)
  override def label(i: Int): String = s"${kind(i)}:${batch(i)}"

  private def cols(i: Int) = if (kind(i) == "fwd") Cols.Fwd else Cols.Rev

  def expect(): Unit = ()

  /** A call's rows must be the oracle's rows for the ids of its batch. */
  def check(i: Int): Boolean = Fp.of(last) == wants.getOrElseUpdate((kind(i), batch(i)),
    Fp.of(expected(kind(i), cols(i))
      .filter(col(cols(i).head).isin(batchIds(kind(i))(batch(i)).toSeq: _*))))

  def dump(i: Int, dir: String): Map[String, Any] = {
    last.write.parquet(dir)
    Map("kind" -> kind(i), "cols" -> cols(i), "ids" -> batchIds(kind(i))(batch(i)).toSeq)
  }

  /** A call with its planning (forcing the executed plan) timed apart from
    * its execution. */
  override def tracedOp(i: Int): Unit = {
    val t0 = System.nanoTime()
    val df = call(i)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    collect(df)
    val t3 = System.nanoTime()
    planMs += (t2 - t1) / 1e6
    execMs += ((t3 - t0) - (t2 - t1)) / 1e6
    tracedKinds += kind(i)
  }

  /** Traced calls outside the timed loop: `n` calls of every kind. */
  def sideCalls(n: Int): Unit = (0 until n * kinds.size).foreach { i =>
    ctx.spark.catalog.clearCache()
    val before = ctx.tracer.spans.size
    ctx.span(root)(tracedOp(i))
    sideSpans += ctx.tracer.spans(before)
  }

  override def layers(t: Tracer): Map[String, Double] = {
    val spans = (if (sideSpans.nonEmpty) sideSpans.toSeq else t.named(root)).zip(tracedKinds)
    def perCall(k: String, f: Counters => Long): Double =
      PerfBench.median(spans.filter(_._2 == k).map(s => f(t.counts(s._1)).toDouble))
    Map("plans.plan_ms" -> PerfBench.median(planMs.toSeq),
      "api.exec_ms" -> PerfBench.median(execMs.toSeq)) ++
      kinds.flatMap(k => Seq(
        s"api_$k.jobs_per_call" -> perCall(k, _.jobs),
        s"api_$k.stages_per_call" -> perCall(k, _.stages),
        s"api_$k.tasks_per_call" -> perCall(k, _.tasks)))
  }

  override def info: Map[String, Any] = batches.map { case (k, b) => s"${k}_batches" -> b.size }
}

/** Single-threaded timings of the core kernels, in the benchmark's own
  * process, on the workload's own inputs. */
object Kernels {
  private def nsPerCall(n: Int)(body: Int => Long): Double = {
    var sink = 0L
    val reps = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += body(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    if (sink == 42L) println("") // uses the results, so the JIT keeps the loop
    PerfBench.median(reps.drop(2))
  }

  def tokenizeNs(pages: DataFrame): Double = {
    val texts = pages.select("text").limit(2000).collect().map(_.getString(0))
    nsPerCall(20000)(i => Text.tokenize(texts(i % texts.length)).length.toLong)
  }

  private def pointSample(spark: SparkSession, data: String) =
    spark.read.parquet(s"$data/points.parquet").select("elon", "elat").limit(4000)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))

  def pipNs(spark: SparkSession, data: String): Double = {
    val rects = spark.read.parquet(s"$data/place.parquet").select("geom_wkb").collect()
      .map(_.getAs[Array[Byte]](0))
    val pts = pointSample(spark, data)
    nsPerCall(200000) { i =>
      val (x, y) = pts(i % pts.length)
      if (Geo.pipWkb(rects(i % rects.length), x, y)) 1L else 0L
    }
  }

  def cellNs(spark: SparkSession, data: String): Double = {
    val pts = pointSample(spark, data)
    nsPerCall(1000000) { i =>
      val (x, y) = pts(i % pts.length)
      CellMath.lonLatToCell(8, x, y)
    }
  }
}

object Dirs {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
  def size(path: String): Long =
    Files.walk(Paths.get(path)).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** The run itself: set-up, the oracle's fingerprints, the timed loop and,
  * when tracing, the per-layer phase. */
final class Runner(args: PerfBench.Args) {
  private val tracer = new Tracer(s"${args.workload}-seed${args.seed}")
  private val ctx = new Ctx(args, tracer)
  private val w: Workload = args.workload match {
    case "fwd_bulk" => new FwdBulk(ctx)
    case "fwd_job" => new FwdJob(ctx)
    case "rev_bulk" => new RevBulk(ctx)
    case "api_small" => new ApiSmall(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private var nextOp = 0
  private var mismatch: Map[String, Any] = Map.empty
  private object Mode extends Enumeration { val Plain, Listened, Staged = Value }

  private def clearCaches(): Unit = ctx.spark.catalog.clearCache()

  private val t0 = System.nanoTime()
  /** A timestamped phase line in the run's log. */
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $name")

  /** Runs operations for `seconds` (and at least `minOps`); returns the
    * wall time, item count and kind of each successful one. */
  private def loop(seconds: Double, minOps: Int, mode: Mode.Value): Seq[(Double, Long, String)] = {
    val out = ArrayBuffer.empty[(Double, Long, String)]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var done = 0
    var streak = 0
    while ((done < minOps || System.nanoTime() < end) && streak < 3) {
      val i = nextOp
      nextOp += 1
      clearCaches() // release what the previous operation left cached
      val t0 = System.nanoTime()
      val ran =
        try {
          mode match {
            case Mode.Plain => w.op(i)
            case Mode.Listened => tracer.span("plain")(w.op(i))
            case Mode.Staged => tracer.span(w.root)(w.tracedOp(i))
          }
          true
        }
        catch { case NonFatal(e) => errors += s"op $i: $e"; false }
      val dt = (System.nanoTime() - t0) / 1e9
      val ok = ran && (try w.check(i) catch { case NonFatal(e) => errors += s"check $i: $e"; false })
      attempted += 1
      done += 1
      if (ok) { out += ((dt, w.items(i), w.label(i))); streak = 0 }
      else {
        failed += 1
        streak += 1
        if (ran && mismatch.isEmpty) mismatch = keepMismatch(i)
      }
    }
    out.toSeq
  }

  /** The first operation whose output differs from the oracle's, written
    * out for run.py to show the differing rows. */
  private def keepMismatch(i: Int): Map[String, Any] = {
    val dir = ctx.work("mismatch")
    try w.dump(i, dir) ++ Map("dir" -> dir, "op" -> i)
    catch { case NonFatal(e) => Map("op" -> i, "error" -> e.toString) }
  }

  /** Live heap after a full collection plus cached blocks held on disk.
    * Spark's cleaner drops unreachable broadcast and shuffle blocks only
    * after a collection has found them, so this collects a few times and
    * keeps the lowest reading. */
  private def retainedMb(): Double = {
    val heap = (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    val disk = ctx.spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum
    (heap + disk) / 1048576.0
  }

  def run(): Map[String, Any] = {
    ctx.tracing = args.trace
    phase("setup")
    ctx.span("setup") {
      ctx.span("session.start")(ctx.spark = PerfBench.newSession(args))
      ctx.span("inputs.read")(w.readInputs())
      w.build()
      ctx.span("warm")(w.warm())
    }
    // set-up runs from the JVM's start: JVM and Spark start-up, reading the
    // inputs, the program's one-time builds and the warm pass
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    clearCaches()
    ctx.tracing = false
    phase("expected rows")
    w.expect()
    val planted = w match {
      case _: RevBulk => w.plantedRowCaught("rev", Cols.Rev)
      case _ => w.plantedRowCaught("fwd", Cols.Fwd)
    }
    phase("timed")

    // Throughput is the median of a run's later half of operations (the
    // first after set-up run slower while the JIT settles), so every run
    // times several; api_small needs both kinds of call.
    val minOps = args.workload match {
      case "rev_bulk" => 3
      case "api_small" => 6
      case _ => 5
    }
    val base = Map[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "setup_s" -> setupS, "planted_row_caught" -> planted)
    val res: Map[String, Any] =
      if (!args.trace) {
        val ops = loop(args.seconds, minOps, Mode.Plain)
        base ++ Map("op_s" -> ops.map(_._1), "op_items" -> ops.map(_._2),
          "op_kind" -> ops.map(_._3),
          "retained_mb" -> retainedMb())
      } else {
        // untraced baseline, then listeners on: plain operations give the
        // workload's Spark totals, staged operations give per-layer spans
        val plain = loop(args.seconds * 0.3, 2, Mode.Plain)
        tracer.attach(ctx.spark)
        ctx.tracing = true
        loop(0, 1, Mode.Listened)
        val staged = loop(args.seconds * 0.6, 1, Mode.Staged)
        val layers = w.layers(tracer)
        val roots = tracer.named(w.root)
        phase("side measurements")
        val side = w.sideLayers()
        val totals = tracer.named("plain").lastOption.map { s =>
          val c = tracer.counts(s)
          Map(
            s"${args.workload}.busy_frac" -> c.taskMs / 1000.0 / (args.cores * s.durNs / 1e9),
            s"${args.workload}.spill_mb" -> c.spillDiskBytes / 1048576.0,
            s"${args.workload}.jobs" -> c.jobs.toDouble,
            s"${args.workload}.tasks" -> c.tasks.toDouble)
        }.getOrElse(Map.empty)
        // the first operation after set-up runs slower than the rest; the
        // staged operations come later, and their median is the statistic
        // of the stage self times, so those add up to it
        val untracedWall = PerfBench.median(plain.drop(1).map(_._1))
        val tracedWall = PerfBench.median(staged.map(_._1))
        val stageSelf = tracer.spans.filter(s => roots.exists(_.id == s.parent))
          .groupBy(_.name).map { case (k, ss) =>
            k -> PerfBench.median(ss.map(s => tracer.selfNs(s) / 1e9).toSeq) }
        base ++ Map(
          "per_layer" -> (layers ++ side ++ totals ++ Map(
            "trace_overhead_frac" -> (tracedWall / untracedWall - 1.0))),
          "untraced_wall_s" -> untracedWall, "traced_wall_s" -> tracedWall,
          "stage_self_s" -> stageSelf,
          "root_self_s" -> PerfBench.median(roots.map(r => tracer.selfNs(r) / 1e9)))
      }
    phase("done")
    val spanFile = ctx.work("spans.jsonl")
    if (args.trace) Files.write(Paths.get(spanFile), tracer.toJsonLines.asJava)
    ctx.spark.stop()
    res ++ Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "mismatch" -> mismatch, "info" -> w.info)
  }
}
