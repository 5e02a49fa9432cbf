package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The filter-then-verify skeleton every near-duplicate family shares:
  * rows are banded into cohorts (minhash band buckets, simhash chunks, LSH
  * sign-bit buckets, k-means clusters), over-cap cohorts are dropped, and
  * the rows of each cohort pair up by a self-join canonicalized to
  * `key_a < key_b`. A family owns its kernel, its argument checks and its
  * verify expression; the candidate search is here.
  *
  * Both entry points take a banded relation `(key, cohort…, carry…)` and
  * return `(key_a, key_b, <carry>_a…, <carry>_b…)`: each carried column is
  * suffixed with the side of the key it belongs to, and follows that key
  * when a pair is oriented. A pair that shares several cohorts comes back
  * once per shared cohort; a banded family deduplicates, a family with one
  * cohort per row does not need to.
  *
  * Invariants both entry points keep:
  *  - The guard is [[GuardMetrics.capCohorts]]'s count window. Its
  *    exchange hash-partitions on the cohort columns, the distribution the
  *    self-join needs, so the join reuses it and the guard costs a sort,
  *    not a second pass over the banding (the aggregate + anti-join
  *    alternative recomputes the banding kernel twice). `cap <= 0` drops
  *    the window.
  *  - Recall loss from the guard is confined to pairs whose every shared
  *    cohort is over the cap; a pair that also shares a smaller cohort
  *    still surfaces there.
  */
private[graft] object Banding {

  /** Internal and output names of every banded family. A key, text or
    * embedding column named like one of these would collide inside the
    * banding lineage (a duplicate column, or a silently replaced key), so
    * each family checks its column parameters against this list. */
  val reserved = Seq("_sh", "_buckets", "_h", "_emb", "_uemb", "_n", "_cid",
    "_band", "_bucket", "_chunk", "pos", "col", "_new", "key_a", "key_b",
    "jaccard", "hamming", "cosine", "_sh_a", "_sh_b", "_h_a", "_h_b",
    "_emb_a", "_emb_b", "_n_a", "_n_b")

  def requireFreeParams(operator: String, params: (String, String)*): Unit =
    Reserved.requireFreeParams(reserved, operator, params: _*)

  /** `df` with one row per element of the `bands` array: the kept columns,
    * the element's position as `_band` and its value as `bucket`. */
  def explode(df: DataFrame, keep: Seq[String], bands: Column,
      bucket: String): DataFrame =
    df.select(keep.map(col) :+ posexplode(bands): _*)
      .select(keep.map(col) :+ col("pos").as("_band") :+
        col("col").as(bucket): _*)

  /** Batch candidate pairs of `banded` within each cohort, `key_a <
    * key_b`, after the `cap` guard (drops counted under `tag`).
    *
    * The self-join is pinned to sort-merge. A broadcast plan, which AQE
    * picks at small sizes, re-evaluates the build side's whole subtree
    * (the fingerprint kernel, the explode and the guard window); with
    * sort-merge both sides are the same exchange subtree, so the banding
    * is computed once and read twice (ReusedExchange). At corpus scale
    * the planner picks sort-merge anyway; the pairs are the same either
    * way. */
  def pairs(banded: DataFrame, key: String, cohort: Seq[String],
      carry: Seq[String], cap: Long, tag: String): DataFrame = {
    val capped = GuardMetrics.capCohorts(banded, cohort.map(col), cap, tag)
    side(capped, key, cohort, carry, "a").hint("merge")
      .join(side(capped, key, cohort, carry, "b"), cohort)
      .filter(col("key_a") < col("key_b"))
      .select(output(carry).map(col): _*)
  }

  /** Store-vs-batch candidate pairs: `all` is the union of the store's and
    * the batch's banded rows, flagged by a boolean `_new`. Returns the
    * pairs with at least one new side, `key_a < key_b`: (new × old)
    * oriented with `least`/`greatest`, and (new × new) filtered by `<`.
    *
    * The cap applies to the whole union, where the batch run over the
    * union evaluates it. Both join inputs are `_new` filters over the one
    * capped relation, so all four subtrees stay canonically identical
    * below the filters and the cohort exchange is planned once and reused.
    * Filtering only one side would let column pruning drop `_new` from the
    * other and break the reuse, doubling the banding shuffle. With the
    * guard off the small batch side is broadcastable and the store is
    * scanned map-side, never shuffled. */
  def incrementalPairs(all: DataFrame, key: String, cohort: Seq[String],
      carry: Seq[String], cap: Long, tag: String): DataFrame = {
    val capped = GuardMetrics.capCohorts(all, cohort.map(col), cap, tag)
    val fresh = capped.filter(col("_new"))
    val old = capped.filter(!col("_new"))
    val aFirst = col("key_a") < col("key_b")
    val cross = side(fresh, key, cohort, carry, "a")
      .join(side(old, key, cohort, carry, "b"), cohort)
      .select(Seq(least(col("key_a"), col("key_b")).as("key_a"),
          greatest(col("key_a"), col("key_b")).as("key_b")) ++
        carry.map(c => when(aFirst, col(s"${c}_a"))
          .otherwise(col(s"${c}_b")).as(s"${c}_a")) ++
        carry.map(c => when(aFirst, col(s"${c}_b"))
          .otherwise(col(s"${c}_a")).as(s"${c}_b")): _*)
    val within = side(fresh, key, cohort, carry, "a")
      .join(side(fresh, key, cohort, carry, "b"), cohort)
      .filter(aFirst)
      .select(output(carry).map(col): _*)
    cross.unionByName(within)
  }

  private def side(df: DataFrame, key: String, cohort: Seq[String],
      carry: Seq[String], s: String): DataFrame =
    df.select((col(key).as(s"key_$s") +: cohort.map(col)) ++
      carry.map(c => col(c).as(s"${c}_$s")): _*)

  private def output(carry: Seq[String]): Seq[String] =
    Seq("key_a", "key_b") ++ carry.map(_ + "_a") ++ carry.map(_ + "_b")
}
