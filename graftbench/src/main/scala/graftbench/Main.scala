package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One client operation as measured: `ms` is its latency (for writes,
  * commit plus replication), `pass` the pass it ran in. */
final class Op(val id: Long, val pass: Int, val kind: String, val name: String,
    val traced: Boolean) {
  var ms: Double = 0.0
  /** The operation's parameters and, for a read, the columns and rows
    * it returned (JSON), which the runner checks against DuckDB. */
  var params: String = "null"
  var result: String = "null"
  var commitMs: Double = -1.0
  var replicateMs: Double = -1.0
  var ok: Boolean = true
  var error: String = ""
  def fail(msg: String): Unit = { ok = false; if (error.isEmpty) error = msg.take(300) }
  def json: String = Json.obj("id" -> id, "pass" -> pass, "kind" -> kind, "name" -> name,
    "traced" -> traced, "ms" -> ms, "commit_ms" -> commitMs, "replicate_ms" -> replicateMs,
    "ok" -> ok, "error" -> error, "params" -> Json.Raw(params), "result" -> Json.Raw(result))
}

/** A DuckDB comparison the runner performs after the JVM exits. */
final case class Check(op: Long, name: String, path: String, oracle: String) {
  def json: String = Json.obj("op" -> op, "name" -> name, "path" -> path, "oracle" -> oracle)
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val probe: Probe, val work: Path,
    val seed: Long, val plant: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[Check]
  /** Per-layer values a workload reports beyond the engine counters. */
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Free-form data the runner needs for its checks (JSON values). */
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var nextOp = 0L
  def op(pass: Int, kind: String, name: String): Op = {
    val o = new Op(nextOp, pass, kind, name, probe.isTracing)
    nextOp += 1
    ops += o
    o
  }
  /** Time `body` as the latency of `o`; a throw marks it failed. */
  def timed(o: Op)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try probe.span(s"op.${o.name}", o.id)(body)
    catch { case e: Throwable => o.fail(e.toString); System.err.println(s"[graftbench] ${o.name} failed: $e") }
    finally o.ms = (System.nanoTime() - t0) / 1e6
  }
  /** Drop operator caches between operations, as graft.Bench does. */
  def clearCaches(): Unit = {
    graft.util.CacheScope.drain()
    spark.catalog.clearCache()
  }
}

object Main {

  /** The session `graft.Bench` builds, plus local paths that keep every
    * file the run writes under its own work directory. */
  def session(work: Path): SparkSession = {
    System.setProperty("graft.bench.nosort", "1")
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Order-independent content hash: (rows, sum of row hashes). */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(1L << 31))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Self-test: rewrite the parquet output at `path` without one row. */
  def plantMissingRow(spark: SparkSession, path: String): Unit = {
    val df = spark.read.parquet(path)
    df.limit((df.count() - 1).toInt).write.parquet(path + "_planted")
    deleteTree(Paths.get(path))
    Files.move(Paths.get(path + "_planted"), Paths.get(path))
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  trait Workload {
    /** Tables the workload reads. */
    def tables: Seq[String]
    /** Set-up work after input generation (part of setup_s). */
    def prepare(ctx: Ctx, in: String, dir: Path): Unit = ()
    /** Release what `prepare` started. */
    def release(): Unit = ()
    /** One pass; returns its measured time in ms (checks excluded). */
    def pass(ctx: Ctx, in: String, index: Int): Double
    /** Work outside the timed interval after a pass (checks). */
    def afterPass(ctx: Ctx, in: String, index: Int): Unit = ()
    /** Per-layer values after the last pass. */
    def finish(ctx: Ctx, in: String): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val setups = a("setups").toInt
    val plant = a("plant") == "1"
    val minPasses = a("min-passes").toInt
    val warmup = a("warmup").toInt
    val budgetS = a("budget").toDouble
    val out = Paths.get(a("out"))
    val spansDir = Paths.get(a("spans"))
    val data = a("data")
    val jvmStart = System.nanoTime()

    val wl: Workload = name match {
      case "retail_dag" => new Dag.Workload
      case "star_serve" => new Serve.Workload
      case "iter_tier" => new Iter.Workload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, repeated; the last one is kept for the run ----
    var spark: SparkSession = null
    var probe: Probe = null
    var in = ""
    val setupS = ArrayBuffer.empty[Double]
    for (k <- 1 to setups) {
      // frames cached by the old session must go before it stops
      if (spark != null) { wl.release(); graft.util.CacheScope.drain(); spark.stop() }
      deleteTree(work.resolve("setup"))
      val dir = Files.createDirectories(work.resolve("setup"))
      val t0 = System.nanoTime()
      spark = session(work)
      val t1 = System.nanoTime()
      // warm the session (FS init, codegen, shuffle machinery)
      spark.range(0, 100000, 1, 4).select((col("id") % 97).as("k")).groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      in = dir.resolve("in").toString
      Gen.write(spark, data, in, seed, wl.tables)
      val t3 = System.nanoTime()
      probe = new Probe(spark)
      // the kept set-up records its spans (no listeners) in traced runs
      if (trace && k == setups) probe.startSpans()
      wl.prepare(new Ctx(spark, probe, dir, seed, plant), in, dir)
      probe.stopSpans()
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] setup $k: session ${(t1 - t0) / 1e9}%.2f warm-up ${(t2 - t1) / 1e9}%.2f " +
        f"inputs ${(t3 - t2) / 1e9}%.2f prepare ${(System.nanoTime() - t3) / 1e9}%.2f s")
    }

    val ctx = new Ctx(spark, probe, work.resolve("setup"), seed, plant)
    val t0 = System.nanoTime()
    // (pass, traced, warm-up, measured ms)
    val passWall = ArrayBuffer.empty[(Int, Boolean, Boolean, Double)]
    var measured = 0.0
    var i = 0
    def measuredPasses = passWall.count(!_._3)
    val needPasses = if (trace) math.max(2, minPasses) else minPasses
    var slowest = 0.0
    def elapsedS = (System.nanoTime() - jvmStart) / 1e9
    // closed loop, one client: passes run back to back until the
    // measured time (checks excluded) reaches the budget
    while ((i < warmup || measured < seconds || measuredPasses < needPasses) &&
        !(measuredPasses >= needPasses.min(2) && elapsedS + 1.3 * slowest > budgetS)) {
      val isWarmup = i < warmup
      val traced = trace && !isWarmup && (i - warmup) % 2 == 1
      if (traced) probe.startTrace()
      val p0 = System.nanoTime()
      val wall = probe.span("pass")(wl.pass(ctx, in, i))
      if (traced) probe.stopTrace()
      passWall += ((i, traced, isWarmup, wall))
      if (!isWarmup) measured += wall / 1000.0
      wl.afterPass(ctx, in, i)
      slowest = math.max(slowest, (System.nanoTime() - p0) / 1e9)
      i += 1
    }
    wl.finish(ctx, in)

    val tracedPasses = passWall.count(_._2)
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var spansFile = ""
    if (trace) {
      val n = math.max(1, tracedPasses).toDouble
      val tracedWall = passWall.filter(_._2).map(_._4).sum
      Probe.Counters.foreach { k =>
        val v = probe.c(k).get().toDouble
        layers(k) = if (k == "jvm.heap_peak_mb") v else v / n
      }
      layers("driver.idle_ms") = math.max(0.0, tracedWall - probe.c("sched.busy_ms").get()) / n
      val self = probe.selfMs
      layers ++= ctx.layers
      layers("trace.unattributed_jobs") = probe.unattributed.get().toDouble
      val total = probe.c("sched.jobs").get()
      Files.createDirectories(spansDir)
      spansFile = spansDir.resolve(s"spans-$name-$seed.json").toString
      val selfJson = Json.obj(self.toSeq.sortBy(_._1): _*)
      Files.write(Paths.get(spansFile), Json.obj(
        "workload" -> name, "seed" -> seed,
        "listener_jobs" -> total, "span_jobs" -> probe.attributedJobs,
        "stream_jobs" -> probe.streamJobs.get(), "unattributed_jobs" -> probe.unattributed.get(),
        "self_ms" -> Json.Raw(selfJson),
        "spans" -> Json.Raw(probe.spansJson(t0))).getBytes("UTF-8"))
      layers("trace.listener_jobs") = total.toDouble
      layers("trace.span_jobs") = probe.attributedJobs.toDouble
    } else layers ++= ctx.layers

    val json = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS.toSeq,
      "passes" -> Json.Raw(Json.arr(passWall.map { case (p, t, wu, w) =>
        Json.obj("pass" -> p, "traced" -> t, "warmup" -> wu, "wall_ms" -> w) }.toSeq: _*)),
      "ops" -> Json.Raw(Json.arr(ctx.ops.map(_.json).toSeq: _*)),
      "checks" -> Json.Raw(Json.arr(ctx.checks.map(_.json).toSeq: _*)),
      "layers" -> Json.Raw(Json.obj(layers.toSeq: _*)),
      "extra" -> Json.Raw(Json.obj(ctx.extra.toSeq.map { case (k, v) => k -> Json.Raw(v) }: _*)),
      "inputs" -> in, "spans_file" -> spansFile,
      "oracle_sql" -> Json.Raw(Json.obj(graft.SparkEntry.oracleSql.toSeq: _*)))
    Files.write(out, json.getBytes("UTF-8"))
    wl.release()
    spark.stop()
  }
}
