package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Components, Rank, Sampling}
import graft.sources.Tables

/** The input sizes the library's adaptive gates probe, set against the
  * public thresholds, so each workload's route is on record. */
object Gates {
  private def gate(probe: Long, limit: Long, probes: String, gates: String) =
    Map("probe" -> probe, "limit" -> limit, "what" -> probes, "gate" -> gates,
      "route" -> (if (probe <= limit) "small" else "large"))

  def probe(spark: SparkSession, dir: String): Map[String, Any] = {
    val events = Tables.rowCount(spark, dir, "events")
    val perUser = Tables.load(spark, dir, "events").groupBy("user_id").count()
      .agg(max("count")).head().getLong(0)
    val docs = Tables.rowCount(spark, dir, "documents")
    val adj = Components.basketAdjacency(spark, dir)
    val nodes = adj.count()
    val edges = adj.agg(sum(size(col("nbrs")))).head().getLong(0)
    Map(
      "keyed_window" -> gate(events, Rank.SingleWindowMax, "events rows",
        "Rank.SingleWindowMax (sessionize, asof_join, interval_merge, attribution)"),
      "per_key_task" -> gate(perUser, Rank.SingleTaskMax, "events rows of the busiest user",
        "Rank.SingleTaskMax (funnel chain, scd2)"),
      "doc_task" -> gate(docs, Rank.SingleTaskMax, "documents rows",
        "Rank.SingleTaskMax (systematic sample, export)"),
      "balance" -> gate(docs, Sampling.BalanceWindowMax, "documents rows",
        "Sampling.BalanceWindowMax"),
      "pagerank" -> gate(nodes, Components.PrBroadcastNodeMax, "basket graph nodes",
        "Components.PrBroadcastNodeMax (pagerank, khop)"),
      "triangles" -> gate(edges / 2, Components.TriBroadcastEdgeMax, "oriented basket edges",
        "Components.TriBroadcastEdgeMax"),
      "edge_broadcast" -> gate(edges, Components.BroadcastEdgeMax, "directed basket edges",
        "Components.BroadcastEdgeMax"))
  }
}
