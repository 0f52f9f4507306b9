package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.RetailEtl
import graft.sources.{StepRunner, TxTable}

/** The reference DAG (clean → stage dims → load dims → stage fact →
  * load fact → gate and dashboard), run through one StepRunner run
  * directory into graft-tx tables. */
object Dag {

  val Steps: Seq[String] = Seq("clean", "stage_dims", "load_dims", "stage_fact", "load_fact",
    "gate", "dashboard")

  val FactStats: Seq[String] = Seq("invoice_id", "fact_id", "date_dim_id")

  /** Where one DAG run leaves its artifacts and tables. */
  final case class Layout(runDir: String, tables: String) {
    def table(name: String): String = s"$tables/$name"
    def artifact(name: String): String = s"$runDir/artifacts/$name"
  }

  /** The staged fact gets a unique line key (the reference's SERIAL
    * id) so the loaded table can be upserted and replicated by key.
    * (invoice_id, line_no) is not unique in the testdata, so the id is
    * the row number in the order of all columns: rows that tie are
    * identical, so any numbering of them gives the same table. */
  def withFactId(fact: DataFrame): DataFrame =
    fact.withColumn("fact_id", row_number().over(Window.orderBy(FactOrder.map(col): _*)).cast("long"))

  val FactOrder: Seq[String] = Seq("invoice_id", "line_no", "date_dim_id", "customer_dim_id",
    "product_dim_id", "unit_price", "quantity")

  /** Late facts number from 2^40, above every loaded row number. */
  val LateFactIds: Long = 1L << 40

  /** Run the DAG once. `op` times each step as one operation. The
    * dashboards read the raw inputs; a star load skips them. */
  def run(ctx: Ctx, in: String, lay: Layout, dashboards: Boolean,
      op: (String, => Unit) => Unit): Unit = {
    val spark = ctx.spark
    val p = ctx.probe
    def stepOp(step: String, body: => Unit): Unit = op(step, p.span(s"step.$step")(body))
    val r = new StepRunner(spark, lay.runDir)
    def artifact(name: String)(body: => DataFrame): DataFrame =
      p.span(s"runner.step")(r.step(name)(body))
    def load(name: String)(body: => Unit): Unit =
      p.span(s"runner.effect")(r.effect(name)(body))
    var dims: Seq[(String, DataFrame, Seq[String])] = Nil
    var fact: DataFrame = null
    stepOp("clean", artifact("clean")(p.span("op.RetailEtl.clean")(RetailEtl.clean(spark, in))))
    stepOp("stage_dims", {
      dims = Seq(
        ("dim_customers", artifact("dim_customers")(
          p.span("op.RetailEtl.scd1Customers")(RetailEtl.scd1Customers(spark, in))), Seq("customer_id")),
        ("dim_products", artifact("dim_products")(
          p.span("op.RetailEtl.scd1Products")(RetailEtl.scd1Products(spark, in))), Seq("stock_code")),
        ("dim_dates", artifact("dim_dates")(
          p.span("op.RetailEtl.dimDates")(RetailEtl.dimDates(spark, in))), Seq("date_dim_id")))
    })
    stepOp("load_dims", dims.foreach { case (name, df, stats) =>
      load(s"load_$name")(p.span("tx.create")(TxTable.create(spark, lay.table(name), df, stats)))
    })
    stepOp("stage_fact", {
      fact = artifact("fact")(p.span("op.RetailEtl.factBuild")(withFactId(RetailEtl.factBuild(spark, in))))
    })
    stepOp("load_fact", load("load_fact")(p.span("tx.append")(TxTable.append(spark, lay.table("fact"),
      fact.repartitionByRange(8, col("invoice_id")), FactStats, mergeSchema = true))))
    stepOp("gate", {
      val gate = artifact("gate")(p.span("op.RetailEtl.fkAudit")(RetailEtl.fkAudit(spark, in))).head()
      val orphans = (0 until gate.length).map(gate.getLong).sum
      require(orphans == 0L, s"fk audit gate failed: $gate")
    })
    if (dashboards) stepOp("dashboard", {
      artifact("revenue")(p.span("op.RetailEtl.starRevenue")(RetailEtl.starRevenue(spark, in)))
      artifact("topn")(p.span("op.RetailEtl.starTopn")(RetailEtl.starTopn(spark, in)))
    })
  }

  /** DuckDB comparisons for one run's artifacts: (artifact, oracle key). */
  val OracleChecks: Seq[(String, String, String)] = Seq(
    ("clean", "clean", "etl_clean"),
    ("clean", "clean", "kept_plus_rejected"),
    ("stage_dims", "dim_customers", "etl_scd1_customers"),
    ("stage_dims", "dim_products", "etl_scd1_products"),
    ("stage_dims", "dim_dates", "etl_dim_dates"),
    ("stage_fact", "fact", "etl_fact_build"),
    ("gate", "gate", "etl_fk_audit"),
    ("dashboard", "revenue", "etl_star_revenue"),
    ("dashboard", "topn", "etl_star_topn"))

  val Tables: Seq[String] = Seq("customer", "part", "orders", "lineitem", "events")

  final class Workload extends Main.Workload {
    def tables: Seq[String] = Tables
    private val stepOps = ArrayBuffer.empty[(Int, String, Op)]

    private def layout(ctx: Ctx, index: Int): Layout = {
      val d = ctx.work.resolve(s"dag/pass-$index")
      Layout(d.resolve("run").toString, d.resolve("tables").toString)
    }

    def pass(ctx: Ctx, in: String, index: Int): Double = {
      val t0 = System.nanoTime()
      val lay = layout(ctx, index)
      var broken = false
      run(ctx, in, lay, dashboards = true, (step, body) => {
        val o = ctx.op(index, "step", step)
        if (broken) o.fail("skipped: an earlier step failed")
        else {
          ctx.timed(o)(body)
          broken = !o.ok
        }
        stepOps += ((index, step, o))
      })
      (System.nanoTime() - t0) / 1e6
    }

    override def afterPass(ctx: Ctx, in: String, index: Int): Unit = {
      val lay = layout(ctx, index)
      val ops = stepOps.filter(_._1 == index).map { case (_, s, o) => s -> o }.toMap
      // loaded tables must hold exactly the staged rows
      for ((step, table, art) <- Seq(("load_dims", "dim_customers", "dim_customers"),
          ("load_dims", "dim_products", "dim_products"), ("load_dims", "dim_dates", "dim_dates"),
          ("load_fact", "fact", "fact")); o <- ops.get(step) if o.ok) {
        try {
          val loaded = Main.contentHash(TxTable.read(ctx.spark, lay.table(table)))
          val staged = Main.contentHash(ctx.spark.read.parquet(lay.artifact(art)))
          if (loaded != staged) o.fail(s"$table loaded $loaded != staged $staged")
        } catch { case e: Throwable => o.fail(s"$table load check: $e") }
      }
      // self-test: the first pass's fact artifact loses a row
      if (ctx.plant && index == 0) Main.plantMissingRow(ctx.spark, lay.artifact("fact"))
      for ((step, art, oracle) <- OracleChecks; o <- ops.get(step) if o.ok)
        ctx.checks += Check(o.id, s"$step/$art", lay.artifact(art), oracle)
      ctx.layers("step.artifact_bytes") =
        Main.dirBytes(java.nio.file.Paths.get(lay.runDir, "artifacts")).toDouble
      Tx.recordWrites(ctx, lay.table("fact"), 0, ops.values.exists(_.traced))
    }

    override def finish(ctx: Ctx, in: String): Unit = {
      val traced = stepOps.filter(_._3.traced)
      val passes = traced.map(_._1).distinct.size.max(1)
      Steps.foreach { s =>
        ctx.layers(s"step.${s}_ms") = Main.median(traced.filter(_._2 == s).map(_._3.ms).toSeq)
      }
      Tx.layers(ctx, passes)
      Tx.tableLayers(ctx, layout(ctx, stepOps.map(_._1).maxOption.getOrElse(0)).table("fact"))
    }
  }
}
