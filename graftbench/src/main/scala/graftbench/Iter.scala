package graftbench

import scala.util.Random

/** The iterative tier: ROADMAP direction-3 operators, run through
  * `SparkEntry.queries` in a seed-chosen order each pass. Two of the
  * six fit the run budget (graftbench/README.md says why). */
object Iter {

  val Queries: Seq[String] = Seq("q66_sssp", "dedup_keep_best")

  final class Workload extends Main.Workload {
    def tables: Seq[String] = Seq("lineitem", "documents")

    def pass(ctx: Ctx, in: String, index: Int): Double = {
      val t0 = System.nanoTime()
      val order = new Random(ctx.seed * 31L + index).shuffle(Queries)
      order.foreach { q =>
        val o = ctx.op(index, "operator", q)
        val out = ctx.work.resolve(s"iter/pass-$index/$q").toString
        ctx.timed(o) {
          graft.SparkEntry.queries(q)(ctx.spark, in).write.parquet(out)
          ctx.clearCaches()
        }
        if (o.ok) ctx.checks += Check(o.id, q, out, q)
      }
      (System.nanoTime() - t0) / 1e6
    }

    override def afterPass(ctx: Ctx, in: String, index: Int): Unit =
      // self-test: the first operator's output loses a row
      if (ctx.plant && index == 0) Main.plantMissingRow(ctx.spark, ctx.checks.head.path)

    override def finish(ctx: Ctx, in: String): Unit = {
      val incl = ctx.probe.inclusiveJobs
      val spans = ctx.probe.closed
      Queries.foreach { q =>
        val traced = ctx.ops.filter(o => o.traced && o.name == q)
        ctx.layers(s"op.${q}_ms") = Main.median(traced.map(_.ms).toSeq)
        val js = spans.filter(_.name == s"op.$q").map(s => incl(s.id).toDouble)
        ctx.layers(s"op.$q.jobs") = if (js.isEmpty) 0.0 else js.sum / js.size
      }
    }
  }
}
