package graft.streaming

import org.apache.hadoop.fs.Path

/** Model-based randomized test of the tombstone/compaction state
  * machine over the SIMPLEST store the layer supports — one keyed
  * family, rows written exactly the way the ingests write them
  * (round-18 verdict item 1; the harness and the law's rationale live
  * on [[StoreModelHarness]]): round 18's hand review found TWO real
  * soundness bugs here (pre-emptive-delete resurrection through the
  * unanchored-delta window; vacuous retirement on an empty store),
  * direct evidence that hand-picked scenarios under-cover the state
  * space. The sibling descriptors ([[SimilarityStoreModelSpec]],
  * [[ImageStoreModelSpec]]) run the same law through the real ingest
  * batch paths.
  *
  * Catch verification (by mutation during development): re-weakening
  * `writeTombstones` to record a finite cutoff for unanchored deltas —
  * the r18 pre-fix behavior, which re-enables BOTH r18 bugs — fails
  * this law at seed 6 with the minimal trace
  * `delPreemptive(3) compact(∞) ingest(1,2,3)`: the vacuous
  * empty-store retirement resurrecting the pre-emptive delete. The r19
  * partial-`_cutoff`-carry weakening is NOT reliably reachable by this
  * law (its kill chain needs the legacy key's rows to survive in the
  * raw max version across two compacts — the folds themselves
  * physically erase the evidence most schedules would catch); the
  * deterministic legacy-delta scenario in DedupIngestSpec pins that
  * one, verified failing against the pre-fix carry.
  */
class TombstoneModelSpec extends StoreModelHarness {
  import spark.implicits._

  // seeds window-scaled (TestDepth): full depth via SPARK_GRAFT_FULL_TESTS
  runLaw("sig raw keyed family",
      seeds = graft.TestDepth.scaled(100, 16), opsRange = (6, 6)) {
    root =>
      new FamilyOps {
        val keyedFamilies = Seq("sig")
        private val famDir = s"$root/sig"

        // writing exactly as the ingests write: guard, data commit,
        // then the _keyrange sidecar
        def ingestBatch(keys: Seq[Long], id: Long): Unit = {
          val df = keys.map(k => (k, s"p$k")).toDF("key", "payload")
          VersionedStore.enforceKeyOrderGuard(df, id, famDir, "key")
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"$famDir/v=$id")
          VersionedStore.writeKeyRange(df, "key", s"$famDir/v=$id")
        }

        // the DedupIngest.compactStores order: resolve tombstones once,
        // fold the keyed family with them applied + the floor recorded,
        // retire fully-applied markers, fold the tombstone family last
        def compact(ratio: Double): Unit = {
          val (tomb, floor) =
            VersionedStore.tombstonesAndFloor(spark, root)
          VersionedStore.compactFamily(spark, root, "sig", ratio,
            df => VersionedStore.applyTombstones(df.dropDuplicates(),
              tomb, None),
            tombFloor = Some(floor))
          VersionedStore.retireTombstones(spark, root, Seq("sig"))
          VersionedStore.compactFamily(spark, root, "tombstones", ratio,
            _.dropDuplicates())
        }

        def visible(): Set[Long] = {
          val fs = new Path(famDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val vs = VersionedStore.committedVersions(spark, famDir,
            Long.MaxValue)
          val withData = vs.filter(v => fs.listStatus(
            new Path(s"$famDir/v=$v"))
            .exists(_.getPath.getName.endsWith(".parquet")))
          if (withData.isEmpty) Set.empty
          else VersionedStore.antiTombstones(
            spark.read.parquet(
              VersionedStore.dirs(root, "sig", withData): _*),
            "key", spark, root)
            .select("key").as[Long].collect().toSet
        }
      }
  }

  test("binding the tombstones of a store with one delete runs no Spark " +
      "job") {
    val root = java.nio.file.Files.createTempDirectory("graft-tomb-bind")
      .toString
    val v = VersionedStore.writeTombstones(spark, root,
      Seq(2L, 5L).toDF("key"), Nil)
    var tomb: Option[org.apache.spark.sql.DataFrame] = None
    val jobs = jobsOf { tomb = VersionedStore.tombstones(spark, root) }
    assert(jobs == 0, s"jobs: $jobs")
    val delta = spark.read.parquet(s"$root/tombstones/v=$v")
    assert(tomb.get.schema == delta.schema)
    assert(tomb.get.as[Long].collect().toSet == Set(2L, 5L))
  }
}
