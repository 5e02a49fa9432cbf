package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tag-matrix algebra — the reference's central queryable relation.
  *
  * Reference: tag matrix built from `meta_*.json` sidecars
  * (`jigsaw/model_utils/filters.py:30-58`), AND filter (`:60-83`), OR filter
  * (`:86-112`), union+dedup join (`:115-144`), seeded sample (`:231-247`).
  *
  * Spark-first re-expression: the source of truth is the *narrow* form
  * `(image_id STRING, tags ARRAY<STRING>)` — never a driver-side wide pivot —
  * so tag-vocabulary drift never changes the physical schema and filters stay
  * codegen'd `array_contains`/`arrays_overlap` predicates that Catalyst can
  * evaluate right after the scan. The wide boolean matrix the reference
  * materializes in pandas is available as a display/export `pivot`.
  */
object TagOps {

  val UntaggedTag = "untagged"

  /** The `meta_*.json` fields the tag matrix reads, pinned so that no scan
    * runs a schema-inference job. Tags read as strings: a numeric or boolean
    * tag keeps its JSON text, as a cast of the inferred type would give.
    */
  val MetadataSchema = "tags ARRAY<STRING>"

  /** S1 metadata scan: read per-image `meta_<id>.json` sidecars into
    * `(image_id, tags)`. Missing/empty tag lists become `['untagged']`
    * (filters.py:50-52 contract). One JSON document per file (multiLine),
    * filename predicate pushed to the file listing (F3). FAILFAST: a file
    * whose `tags` is not an array (or that is not JSON) fails the read
    * instead of silently becoming untagged.
    */
  def loadMetadata(spark: SparkSession, dir: String): DataFrame =
    metadataRows(spark.read
      .schema(MetadataSchema)
      .option("mode", "FAILFAST")
      .option("multiLine", "true")
      .option("pathGlobFilter", "meta_*.json")
      .json(dir))

  /** `(image_id, tags)` from raw [[MetadataSchema]] rows — the id from the
    * file name, missing/empty tags as `['untagged']`. Shared by the batch
    * scan and [[graft.streaming.Streams.tagStream]].
    */
  private[graft] def metadataRows(raw: DataFrame): DataFrame =
    raw
      .withColumn("image_id",
        regexp_extract(input_file_name(), "meta_([^/]+?)\\.json$", 1))
      .withColumn("tags",
        when(col("tags").isNull || size(col("tags")) === 0,
          array(lit(UntaggedTag)))
          .otherwise(col("tags")))
      .select("image_id", "tags")

  /** F1: keep rows having ALL of `filterTags` (intersection semantics). */
  def andFilter(tagged: DataFrame, filterTags: Seq[String],
      tagsCol: String = "tags"): DataFrame = {
    require(filterTags.nonEmpty, "andFilter needs at least one tag")
    tagged.filter(
      filterTags.map(t => array_contains(col(tagsCol), t)).reduce(_ && _))
  }

  /** F2: keep rows having AT LEAST ONE of `filterTags` (union semantics).
    * Single-pass `arrays_overlap` — no per-tag scan + dedup like the
    * reference (filters.py:86-112); result is identical membership.
    */
  def orFilter(tagged: DataFrame, filterTags: Seq[String],
      tagsCol: String = "tags"): DataFrame = {
    require(filterTags.nonEmpty, "orFilter needs at least one tag")
    tagged.filter(
      arrays_overlap(col(tagsCol), array(filterTags.map(lit): _*)))
  }

  /** J1 "join_sets": union N subsets, dropping duplicate keys and keeping the
    * row from the EARLIEST set (dedup-keep-first, filters.py:142-143).
    * One shuffle on the key; the set-priority tiebreak rides the same
    * aggregation via `min_by`.
    */
  def joinSets(sets: Seq[DataFrame], key: String = "image_id"): DataFrame = {
    require(sets.nonEmpty, "joinSets needs at least one set")
    val tagged = sets.zipWithIndex.map { case (df, i) =>
      df.withColumn("_set_pri", lit(i))
    }
    val unioned = tagged.reduce(_.unionByName(_, allowMissingColumns = true))
    val payload = unioned.columns.filter(c => c != key && c != "_set_pri")
    unioned
      .groupBy(col(key))
      .agg(min_by(struct(payload.toIndexedSeq.map(col): _*), col("_set_pri"))
        .as("_row"))
      .select(col(key) +: payload.toIndexedSeq.map(c =>
        col(s"_row.$c").as(c)): _*)
  }

  /** P1: exactly-n sample without replacement, deterministic under a seed.
    * `orderBy(rand(seed), key).limit(n)` plans as TakeOrderedAndProject —
    * a per-partition top-n + driver merge, NOT a full sort, so it scales.
    * The key tiebreak makes it deterministic even if rand collides.
    */
  def sampleExact(df: DataFrame, n: Int, seed: Long,
      key: String = "image_id"): DataFrame =
    df.orderBy(rand(seed), col(key)).limit(n)

  /** Wide boolean tag matrix (display/export only — see class doc). */
  def pivotTags(tagged: DataFrame, key: String = "image_id",
      tagsCol: String = "tags"): DataFrame = {
    val exploded = tagged.select(col(key), explode(col(tagsCol)).as("tag"))
    exploded.groupBy(col(key)).pivot("tag").agg(first(lit(true)))
      .na.fill(false)
  }
}
