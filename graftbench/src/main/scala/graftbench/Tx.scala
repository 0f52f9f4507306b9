package graftbench

import graft.sources.TxTable

/** TxTable layer numbers, read from the benchmark's spans around its
  * TxTable calls and from the tables' version logs. */
object Tx {
  val Calls: Seq[(String, String)] = Seq("resolve" -> "tx.resolve", "append" -> "tx.append",
    "merge" -> "tx.merge", "update" -> "tx.update", "delete" -> "tx.delete")

  /** Bytes of the files version `v` added over its parent. */
  def bytesAdded(table: String, v: Int): Long = {
    val before = if (v > 1) TxTable.manifest(table, v - 1).files.map(_.path).toSet else Set.empty[String]
    TxTable.manifest(table, v).files.filterNot(f => before(f.path)).map(_.bytes).sum
  }

  /** Add the bytes of every version of `table` after `fromVersion`
    * to the tx.bytes_added counter (traced passes only). */
  def recordWrites(ctx: Ctx, table: String, fromVersion: Int, traced: Boolean): Unit =
    if (traced) {
      val latest = TxTable.latestVersion(table)
      val added = (fromVersion + 1 to latest).map(bytesAdded(table, _)).sum
      ctx.layers("tx.bytes_added_total") = ctx.layers.getOrElse("tx.bytes_added_total", 0.0) + added
    }

  def addRewritten(ctx: Ctx, n: Int, traced: Boolean): Unit = if (traced)
    ctx.layers("tx.files_rewritten_total") = ctx.layers.getOrElse("tx.files_rewritten_total", 0.0) + n

  /** Median latency of each TxTable call kind, and per-pass counts. */
  def layers(ctx: Ctx, passes: Int): Unit = {
    val spans = ctx.probe.closed
    Calls.foreach { case (k, span) =>
      ctx.layers(s"tx.${k}_ms") = Main.median(spans.filter(_.name == span).map(s => (s.end - s.start) / 1e6))
    }
    ctx.layers("tx.files_rewritten") = ctx.layers.getOrElse("tx.files_rewritten_total", 0.0) / passes
    ctx.layers("tx.bytes_added") = ctx.layers.getOrElse("tx.bytes_added_total", 0.0) / passes
    ctx.layers.remove("tx.files_rewritten_total")
    ctx.layers.remove("tx.bytes_added_total")
  }

  def tableLayers(ctx: Ctx, table: String): Unit = {
    val v = TxTable.latestVersion(table)
    ctx.layers("tx.versions") = v.toDouble
    ctx.layers("tx.live_files") = (if (v > 0) TxTable.manifest(table, v).files.size else 0).toDouble
  }
}
