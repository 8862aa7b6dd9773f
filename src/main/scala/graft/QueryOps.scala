package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Plan helpers shared by the inventory queries and the CLI executor. */
object QueryOps {
  /** Deterministic total order for a result that is small by contract:
    * a single-partition sort instead of a global `orderBy`.
    *
    * An orderBy used only to make output deterministic pays a
    * range-partitioner SAMPLING job plus a range exchange per execution
    * to order rows that fit one task. coalesce(1)
    * adds no exchange (a narrow merge of the final aggregate's output)
    * and sortWithinPartitions of one partition IS a total order, so the
    * row sequence is identical to `orderBy(cols)`, NULLs first included.
    *
    * The price is that the last stage before the sort — usually the
    * final aggregate — runs in one task. So the callers are results
    * whose size is bounded by what their consumer takes whole:
    *  - inventory rollups over a dimension domain (return flags, nations,
    *    sources, change types), small at any scale;
    *  - grouped CLI answers ([[graft.exec.SpecExecutor]]), which are shown
    *    or collected whole, so the one task holds no more rows than the
    *    driver receives anyway.
    * Never for a corpus-sized frame that is written or counted rather
    * than collected: there the distributed orderBy (which Catalyst drops
    * under `.count()`) is the right form. */
  def orderedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)
}
