package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Dimension-table reduction: keep only the dim rows whose key appears in a
 * (typically sampled) fact table — a LEFT SEMI join.
 *
 * Reference (/root/reference/src/bin/join.rs):
 *  - build: projected scan of the fact sample's key column into a
 *    `HashSet<String>` (join.rs:42-77) — an implicit DISTINCT on the key.
 *  - probe: full scan of the dim table, keep rows whose stringified key is in
 *    the set (join.rs:101-127); output schema = dim schema, no row
 *    multiplication.
 *  - keys compared as STRINGS on both sides (`to_string()`, join.rs:66-70,
 *    115-119), so INT32 5 == INT64 5, and NULL renders as "null" which
 *    matches NULL — unlike SQL semi-join semantics.
 *
 * Spark mapping: `dim JOIN broadcast(fact.select(key).distinct) LEFT SEMI`.
 * The sample side is tiny by construction (it was just sampled), so the
 * distinct key set broadcasts and the probe never shuffles — at 100 TB the
 * dim scan is embarrassingly parallel with the membership test pushed into a
 * BroadcastHashJoin(LeftSemi). Default is SQL key semantics (typed equality,
 * NULLs never match); `legacyStringKeys = true` reproduces the reference's
 * string-coerced, NULL-matches-NULL behavior (cast-to-string + `<=>`).
 */
object SemiJoinReducer {

  def reduce(
      dim: DataFrame,
      dimCol: String,
      fact: DataFrame,
      factCol: String,
      legacyStringKeys: Boolean = false): DataFrame = {
    // Fail fast on a missing column, mirroring the reference's assert
    // (join.rs:89-99) — Catalyst would throw at analysis anyway, but with a
    // wordier message.
    require(dim.columns.contains(dimCol), s"column '$dimCol' not in dim schema: ${dim.columns.mkString(",")}")
    require(fact.columns.contains(factCol), s"column '$factCol' not in fact schema: ${fact.columns.mkString(",")}")

    val keyName = "__graft_semi_key"
    val keys = broadcast(
      if (legacyStringKeys) fact.select(col(factCol).cast("string").as(keyName)).distinct()
      else fact.select(col(factCol).as(keyName)).distinct())

    val cond =
      if (legacyStringKeys) dim(dimCol).cast("string") <=> keys(keyName) // NULL matches NULL (join.rs:66-70)
      else dim(dimCol) === keys(keyName) // SQL semantics: NULL keys drop

    dim.join(keys, cond, "left_semi")
  }

  /** The complement: dim rows whose key does NOT appear in the fact table. */
  def antiReduce(
      dim: DataFrame,
      dimCol: String,
      fact: DataFrame,
      factCol: String): DataFrame = {
    val keyName = "__graft_semi_key"
    val keys = broadcast(fact.select(col(factCol).as(keyName)).distinct())
    dim.join(keys, dim(dimCol) === keys(keyName), "left_anti")
  }
}
