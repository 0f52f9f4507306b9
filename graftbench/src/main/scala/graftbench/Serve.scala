package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TxTable
import graft.streaming.EventStreams

/** Serves and maintains the loaded star: one client runs a seeded mix
  * of reads and writes against the graft-tx tables, and after every
  * write drains a CDC replica of the fact table. */
object Serve {

  /** One cycle of the mix: 12 reads and 4 writes, shuffled per cycle. */
  val Mix: Seq[String] =
    Seq("revenue", "topn", "distinct_customers", "lookup_point", "lookup_range", "time_travel")
      .flatMap(Seq.fill(2)(_)) ++ Seq("append", "merge", "update", "delete")
  val Writes: Set[String] = Set("append", "merge", "update", "delete")

  /** Rows a late-fact append adds; derived from the invoice id alone so
    * the replay in DuckDB computes the same rows. */
  val AppendRows = 40

  final class Workload extends Main.Workload {
    def tables: Seq[String] = Dag.Tables
    // key spans of the input tables (keys are dense from 0)
    private var orders = 0L
    private var customers = 0L
    private var parts = 0L
    private var planted = false
    private var lay: Dag.Layout = _
    private var replica = ""
    private var query: StreamingQuery = _
    private val versionHash = mutable.Map.empty[Int, (Long, Long)]
    private var appends = 0
    private var merges = 0
    private val skip = mutable.ArrayBuffer.empty[Double]
    private var compared = (0, 0)
    private var stepSpans = Map.empty[String, Double]
    private var artifactBytes = 0.0

    private def fact = lay.table("fact")
    private def dimC = lay.table("dim_customers")
    private def dimP = lay.table("dim_products")

    override def prepare(ctx: Ctx, in: String, dir: Path): Unit = {
      val star = dir.resolve("star")
      lay = Dag.Layout(star.resolve("run").toString, star.resolve("tables").toString)
      Dag.run(ctx, in, lay, dashboards = false, (_, body) => body)
      ctx.clearCaches()
      orders = Gen.keySpan(ctx.spark, in, "orders", "o_orderkey")
      customers = Gen.keySpan(ctx.spark, in, "customer", "c_custkey")
      parts = Gen.keySpan(ctx.spark, in, "part", "p_partkey")
      stepSpans = ctx.probe.closed.filter(_.name.startsWith("step."))
        .map(s => s.name -> (s.end - s.start) / 1e6).toMap
      artifactBytes = Main.dirBytes(java.nio.file.Paths.get(lay.runDir, "artifacts")).toDouble
      replica = star.resolve("replica").toString
      query = EventStreams.cdcReplicaSink(ctx.spark, fact, replica, "fact_id", Seq("fact_id"),
        star.resolve("checkpoint").toString)
      ctx.probe.span("stream.drain")(query.processAllAvailable())
      versionHash.clear(); appends = 0; merges = 0; skip.clear(); compared = (0, 0); planted = false
    }

    override def release(): Unit = if (query != null) { query.stop(); query = null }

    private def year(rnd: Random): Int = 1995 + rnd.nextInt(7)
    private def inYear(y: Int): Column = col("date_dim_id").between(y * 10000 + 101, y * 10000 + 1231)

    private def tx(ctx: Ctx, table: String, version: Int = -1): DataFrame =
      ctx.probe.span("tx.resolve")(TxTable.read(ctx.spark, table, version))

    def pass(ctx: Ctx, in: String, index: Int): Double = {
      val spark = ctx.spark
      val p = ctx.probe
      if (versionHash.isEmpty) p.untraced(recordVersion(ctx))
      val rnd = new Random(ctx.seed * 1000003L + index)
      var measured = 0.0
      rnd.shuffle(Mix).foreach { kind =>
        val o = ctx.op(index, if (Writes(kind)) "write" else "read", kind)
        kind match {
          case "revenue" =>
            val y = year(rnd)
            read(ctx, o, Json.obj("year" -> y)) {
              val f = tx(ctx, fact).filter(inYear(y))
              val c = tx(ctx, dimC)
              f.join(c, f("customer_dim_id") === c("customer_id") + 1000000L)
                .groupBy((col("date_dim_id") / 100).cast("int").as("month"), col("segment"))
                .agg(sum(col("unit_price") * col("quantity")).as("revenue"), count(lit(1)).as("n"))
            }
          case "topn" =>
            val y = year(rnd)
            read(ctx, o, Json.obj("year" -> y)) {
              val f = tx(ctx, fact).filter(inYear(y))
              val d = tx(ctx, dimP)
              val agg = f.join(d, f("product_dim_id") === d("stock_code") + 2000000L)
                .groupBy(col("brand"), col("stock_code"))
                .agg(sum(col("unit_price") * col("quantity")).as("revenue"))
              agg.withColumn("rk", row_number().over(
                  Window.partitionBy(col("brand")).orderBy(col("revenue").desc, col("stock_code"))))
                .filter(col("rk") <= 5)
            }
          case "distinct_customers" =>
            val y = year(rnd)
            read(ctx, o, Json.obj("year" -> y)) {
              tx(ctx, fact).filter(inYear(y))
                .groupBy((col("date_dim_id") / 100).cast("int").as("month"))
                .agg(countDistinct(col("customer_dim_id")).as("customers"))
            }
          case "lookup_point" =>
            val keys = Seq.fill(8)(rnd.nextInt(orders.toInt).toLong)
            read(ctx, o, Json.obj("keys" -> keys)) {
              p.span("tx.resolve")(TxTable.readPointLookup(spark, fact, "invoice_id", keys.map(_.toString)))
            }
          case "lookup_range" =>
            val lo = rnd.nextInt(orders.toInt - 300).toLong
            read(ctx, o, Json.obj("lo" -> lo, "hi" -> (lo + 200))) {
              p.span("tx.resolve")(TxTable.readPruned(spark, fact, "invoice_id", lo, lo + 200))
            }
            if (o.traced) {
              val (kept, skipped) = TxTable.prune(fact, "invoice_id", lo, lo + 200)
              skip += skipped.size.toDouble / math.max(1, kept.size + skipped.size)
            }
          case "time_travel" =>
            val latest = TxTable.latestVersion(fact)
            val v = if (latest > 1) 1 + rnd.nextInt(latest - 1) else latest
            var got = (0L, 0L)
            ctx.timed(o) { got = Main.contentHash(tx(ctx, fact, v)); ctx.clearCaches() }
            if (o.ok && !versionHash.get(v).contains(got))
              o.fail(s"time travel to v$v read $got, committed ${versionHash.get(v)}")
          case w => write(ctx, o, w, rnd)
        }
        measured += o.ms
      }
      measured
    }

    /** Run one read as operation `o`. Its rows are kept, outside the
      * timed interval, for the runner's DuckDB check against the op-log
      * replay at the version the read saw. */
    private def read(ctx: Ctx, o: Op, params: String)(query: => DataFrame): Unit = {
      var df: DataFrame = null
      var rows = Array.empty[Row]
      ctx.timed(o) { df = query; rows = df.collect(); ctx.clearCaches() }
      o.params = params
      if (o.ok) {
        // self-test: the first range lookup loses a row, as if pruning skipped a file
        if (ctx.plant && o.name == "lookup_range" && !planted && rows.nonEmpty) {
          rows = rows.tail; planted = true
        }
        o.result = Json.obj("columns" -> df.columns.toSeq,
          "rows" -> Json.Raw(Json.arr(rows.map(r => Json.value(r.toSeq)).toSeq: _*)))
      }
    }

    private def write(ctx: Ctx, o: Op, kind: String, rnd: Random): Unit = {
      val spark = ctx.spark
      val p = ctx.probe
      val before = TxTable.latestVersion(fact)
      var entry = ""
      val commit: () => Unit = kind match {
        case "append" =>
          val base = orders + appends.toLong * 100L
          appends += 1
          entry = Json.obj("kind" -> kind, "base" -> base, "n" -> AppendRows)
          () => {
            val inv = col("id") + base
            val rows = spark.range(0, AppendRows, 1, 1).select(inv.as("invoice_id"),
              lit(1).as("line_no"), (lit(20011201) + col("id") % 28).cast("int").as("date_dim_id"),
              (lit(1000000L) + pmod(inv * 7919L, lit(customers))).as("customer_dim_id"),
              (lit(2000000L) + pmod(inv * 104729L, lit(parts))).as("product_dim_id"),
              (pmod(inv * 31L, lit(1000L)).cast("double") / 10.0 + 1.0).as("unit_price"),
              (pmod(inv, lit(50L)) + 1L).cast("double").as("quantity"),
              (lit(Dag.LateFactIds) + inv).as("fact_id"))
            p.span("tx.append")(TxTable.append(spark, fact, rows, Dag.FactStats))
          }
        case "merge" =>
          val lo = rnd.nextInt(customers.toInt - 10).toLong
          val seg = s"SEG${merges % 7}"
          val fresh = (0 until 3).map(j => -(merges * 10L + j) - 1L)
          merges += 1
          entry = Json.obj("kind" -> kind, "lo" -> lo, "hi" -> (lo + 9), "segment" -> seg,
            "fresh" -> fresh)
          () => {
            val cur = tx(ctx, dimC).filter(col("customer_id").between(lo, lo + 9))
              .select(col("customer_id"), col("name"), lit(seg).as("segment"),
                col("last_order_date"), lit("U").as("last_status"))
            val ins = spark.createDataFrame(fresh.map(Tuple1(_))).toDF("customer_id")
              .select(col("customer_id"), concat(lit("New#"), col("customer_id").cast("string")).as("name"),
                lit(seg).as("segment"), lit(java.sql.Date.valueOf("2001-12-01")).as("last_order_date"),
                lit("N").as("last_status"))
            val r = p.span("tx.merge")(TxTable.merge(spark, dimC, cur.unionByName(ins),
              "customer_id", Seq("customer_id")))
            Tx.addRewritten(ctx, r.rewritten, o.traced)
          }
        case "update" =>
          val lo = rnd.nextInt(orders.toInt - 60).toLong
          entry = Json.obj("kind" -> kind, "lo" -> lo, "hi" -> (lo + 50))
          () => {
            val r = p.span("tx.update")(TxTable.updateWhere(spark, fact,
              col("invoice_id").between(lo, lo + 50), Map("quantity" -> (col("quantity") + 1.0)),
              Dag.FactStats))
            Tx.addRewritten(ctx, r.rewritten, o.traced)
          }
        case "delete" =>
          val lo = rnd.nextInt(orders.toInt - 30).toLong
          entry = Json.obj("kind" -> kind, "lo" -> lo, "hi" -> (lo + 20))
          () => {
            val r = p.span("tx.delete")(TxTable.deleteWhere(spark, fact,
              col("invoice_id").between(lo, lo + 20), Dag.FactStats))
            Tx.addRewritten(ctx, r.rewritten, o.traced)
          }
      }
      o.params = entry
      val t0 = System.nanoTime()
      ctx.timed(o) {
        commit()
        val t1 = System.nanoTime()
        o.commitMs = (t1 - t0) / 1e6
        p.span("stream.drain")(query.processAllAvailable())
        o.replicateMs = (System.nanoTime() - t1) / 1e6
        ctx.clearCaches()
      }
      // checks, outside the timed interval and the traced counters
      p.untraced {
        if (o.ok) try {
          recordVersion(ctx)
          Tx.recordWrites(ctx, fact, before, o.traced)
          val versions = (TxTable.latestVersion(fact), TxTable.latestVersion(replica))
          if (versions != compared) { // unchanged tables were equal at the last drain
            val src = versionHash(versions._1)
            val rep = Main.contentHash(TxTable.read(spark, replica))
            if (rep != src) {
              val (r, f) = (TxTable.read(spark, replica), TxTable.read(spark, fact))
              o.fail(s"replica $rep != source $src after drain; only in replica: " +
                r.exceptAll(f).limit(2).collect().mkString(", ") + "; only in source: " +
                f.exceptAll(r).limit(2).collect().mkString(", "))
            }
            compared = versions
          }
        } catch { case e: Throwable => o.fail(s"write check: $e") }
      }
    }

    private def recordVersion(ctx: Ctx): Unit = {
      val v = TxTable.latestVersion(fact)
      if (!versionHash.contains(v)) versionHash(v) = Main.contentHash(TxTable.read(ctx.spark, fact, v))
    }

    override def finish(ctx: Ctx, in: String): Unit = {
      val spark = ctx.spark
      val check = ctx.work.resolve("check")
      ctx.probe.untraced {
        val final_ = TxTable.read(spark, fact)
        // self-test: the exported fact loses one row, which the replay must catch
        (if (ctx.plant) final_.filter(col("fact_id") =!= final_.agg(min("fact_id")).head().getLong(0))
         else final_).write.parquet(check.resolve("fact").toString)
        TxTable.read(spark, dimC).write.parquet(check.resolve("dim_customers").toString)
      }
      val lastWrite = ctx.ops.filter(o => Writes(o.name)).lastOption.getOrElse(ctx.ops.last)
      ctx.checks += Check(lastWrite.id, "final fact", check.resolve("fact").toString, "serve_fact")
      ctx.checks += Check(lastWrite.id, "final dim_customers", check.resolve("dim_customers").toString,
        "serve_dim_customers")
      ctx.extra("sizes") = Json.obj("customer" -> customers, "part" -> parts)
      // the star load ran in the kept set-up; its steps are the DAG's
      Dag.Steps.filter(_ != "dashboard").foreach(s =>
        ctx.layers(s"step.${s}_ms") = stepSpans.getOrElse(s"step.$s", 0.0))
      ctx.layers("step.artifact_bytes") = artifactBytes
      val passes = ctx.ops.filter(_.traced).map(_.pass).distinct.size.max(1)
      Tx.layers(ctx, passes)
      Tx.tableLayers(ctx, fact)
      if (skip.nonEmpty) ctx.layers("tx.skip_ratio") = skip.sum / skip.size
    }
  }
}
