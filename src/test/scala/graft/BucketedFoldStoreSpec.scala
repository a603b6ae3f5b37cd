package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.pipelines.BucketedFoldStore

/** The exactly-once fold store: one manifest commit makes state and
  * ledger visible together, and a fold rewrites ONLY the hash buckets
  * its delta touches. The gate faces (`q_fold_bucketed_store`, the
  * stored and streamed sketch faces) oracle-check the arithmetic on
  * real data; this spec pins the store machinery itself:
  * touched-bucket rewrite granularity, re-delivery no-ops, manifest
  * atomicity, a crash after each file-system step of a fold,
  * compaction watermarks, GC retention, and the key-local-merge guard.
  */
class BucketedFoldStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store() =
    Files.createTempDirectory("bucketfold_spec_").toString + "/store"

  private def delta(rows: (String, Long)*) = rows.toDF("k", "n")

  private def mergeSum(state: org.apache.spark.sql.DataFrame,
                       d: org.apache.spark.sql.DataFrame) =
    state.unionByName(d).groupBy("k").agg(sum("n").as("n"))

  private def stateMap(path: String) =
    BucketedFoldStore.readState(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def fold(path: String, id: String, d: org.apache.spark.sql.DataFrame,
                   buckets: Int = 8) =
    BucketedFoldStore.foldOnce(spark, path, id, d, Seq("k"), buckets)(mergeSum)

  test("folds accumulate; a re-delivered batch id is a no-op") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L, "b" -> 2L)))
    assert(fold(path, "b2", delta("a" -> 10L, "c" -> 3L)))
    assert(!fold(path, "b1", delta("a" -> 999L)))
    assert(!fold(path, "b1", delta("a" -> 1L, "b" -> 2L)))
    assert(stateMap(path) == Map("a" -> 11L, "b" -> 2L, "c" -> 3L))
    assert(BucketedFoldStore.processed(spark, path, "b1"))
    assert(!BucketedFoldStore.processed(spark, path, "b3"))
  }

  test("a fold touching 1 of N buckets rewrites exactly 1 bucket") {
    val path = store()
    val n = 16
    // seed: enough distinct keys that several buckets are populated
    val seed = (0 until 64).map(i => s"key_$i" -> i.toLong)
    assert(fold(path, "seed", delta(seed: _*), buckets = n))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketsAfterSeed = fs.listStatus(new Path(path, "data-g1"))
      .map(_.getPath.getName).filter(_.startsWith(BucketedFoldStore.BucketCol))
    assert(bucketsAfterSeed.length > 4, "seed should populate several buckets")
    // fold a single-key delta: the new generation dir must contain
    // EXACTLY the one bucket that key hashes into
    assert(fold(path, "one", delta("key_7" -> 1000L), buckets = n))
    val g2 = fs.listStatus(new Path(path, "data-g2"))
      .map(_.getPath.getName).filter(_.startsWith(BucketedFoldStore.BucketCol))
    assert(g2.length == 1, s"expected 1 rewritten bucket dir, got ${g2.toSeq}")
    // untouched buckets still resolve to the seed generation: the state
    // is complete and correct across the two generations
    val m = stateMap(path)
    assert(m("key_7") == 1007L)
    assert(m("key_0") == 0L && m("key_63") == 63L && m.size == 64)
  }

  test("numBuckets is a creation-time property; later values are ignored") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L), buckets = 4))
    assert(fold(path, "b2", delta("b" -> 2L), buckets = 999))
    assert(stateMap(path) == Map("a" -> 1L, "b" -> 2L))
  }

  test("empty delta commits its batch id without touching data") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L)))
    assert(fold(path, "empty", Seq.empty[(String, Long)].toDF("k", "n")))
    assert(!fold(path, "empty", delta("x" -> 9L)))
    assert(stateMap(path) == Map("a" -> 1L))
  }

  test("one bucket: folds need no bucket discovery, empty deltas included") {
    val path = store()
    val empty = Seq.empty[(String, Long)].toDF("k", "n")
    assert(fold(path, "e0", empty, buckets = 1))
    assert(stateMap(path).isEmpty)
    assert(fold(path, "b1", delta("a" -> 1L, "b" -> 2L), buckets = 1))
    assert(fold(path, "e1", empty, buckets = 1))
    assert(!fold(path, "b1", delta("a" -> 1L), buckets = 1))
    assert(stateMap(path) == Map("a" -> 1L, "b" -> 2L))
    assert(BucketedFoldStore.processed(spark, path, "e0") &&
      BucketedFoldStore.processed(spark, path, "e1"))
  }

  test("compaction: old and recent ids both stay no-ops; new ids still fold") {
    val path = store()
    assert(fold(path, "mb_0", delta("a" -> 1L)))
    assert(fold(path, "mb_1", delta("a" -> 2L)))
    assert(fold(path, "mb_2", delta("a" -> 4L)))
    assert(BucketedFoldStore.compactLedger(spark, path, retainLast = 1) == 2)
    // pre-watermark (compacted away) and recent (retained) — both no-op
    assert(!fold(path, "mb_0", delta("a" -> 100L)))
    assert(!fold(path, "mb_2", delta("a" -> 100L)))
    // genuinely new ids fold; ids compare by number, not string order
    // ("mb_10" < "mb_2" lexically, yet 10 is above the watermark)
    assert(fold(path, "mb_3", delta("a" -> 8L)))
    assert(fold(path, "mb_10", delta("a" -> 16L)))
    assert(stateMap(path) == Map("a" -> 31L))
    // compacting again with nothing below the tail is a no-op
    assert(BucketedFoldStore.compactLedger(spark, path, retainLast = 3) == 0)
    // compacting the whole tail keeps every id a no-op
    assert(BucketedFoldStore.compactLedger(spark, path, retainLast = 0) == 3)
    assert(!fold(path, "mb_10", delta("a" -> 100L)))
    assert(stateMap(path) == Map("a" -> 31L))
    // non-conforming ids are never subsumed by a watermark
    assert(fold(path, "adhoc-backfill", delta("a" -> 1L)))
    assert(!fold(path, "adhoc-backfill", delta("a" -> 1L)))
  }

  test("a merge that emits keys outside the touched buckets is rejected and commits nothing") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L),
      buckets = 16))
    val before = stateMap(path)
    val e = intercept[IllegalStateException] {
      BucketedFoldStore.foldOnce(spark, path, "bad", delta("a" -> 1L),
        Seq("k"), 16) { (_, _) =>
        // key-local violation: invents keys the delta never carried
        delta("zz_invented_1" -> 1L, "zz_invented_2" -> 1L,
          "zz_invented_3" -> 1L, "qq_other" -> 1L)
      }
    }
    assert(e.getMessage.contains("key-local"))
    assert(stateMap(path) == before)
    // the failed batch id did NOT commit — a corrected retry folds
    assert(fold(path, "bad", delta("a" -> 1L), buckets = 16))
  }

  test("a merge that changes the column set is rejected loudly") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L)))
    val e = intercept[IllegalArgumentException] {
      BucketedFoldStore.foldOnce(spark, path, "b2", delta("a" -> 1L),
        Seq("k")) { (st, d) => mergeSum(st, d).withColumnRenamed("n", "total") }
    }
    assert(e.getMessage.contains("column set"))
  }

  test("an uncommitted manifest temp file is invisible to readers") {
    val path = store()
    assert(fold(path, "b1", delta("a" -> 1L)))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash mid-commit: a half-written next-gen temp file
    val tmp = new Path(path, ".manifest-99.tmp")
    val out = fs.create(tmp, true); out.write("gen=99\n".getBytes); out.close()
    assert(stateMap(path) == Map("a" -> 1L))
    // the next fold proceeds normally and sweeps the leftover
    assert(fold(path, "b2", delta("a" -> 1L)))
    assert(stateMap(path) == Map("a" -> 2L))
    assert(!fs.exists(tmp))
  }

  /** Copy the files under `src` accepted by `keep` (store-relative
    * path) into `dst`, preserving the tree.
    */
  private def copyTree(src: String, dst: String)(keep: String => Boolean): Unit = {
    val from = java.nio.file.Paths.get(src)
    val walk = Files.walk(from)
    try walk.sorted().forEach { (p: JPath) =>
      val rel = from.relativize(p).toString
      val to = java.nio.file.Paths.get(dst).resolve(rel)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (keep(rel)) {
        Files.createDirectories(to.getParent)
        Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  test("a crash after each file-system step of a fold recovers to the no-crash state") {
    // two folds over the same keys, so the third fold's GC has a
    // superseded generation (manifest-1, data-g1) to sweep
    val before = store() // the store the crashed fold meets
    assert(fold(before, "b1", delta("a" -> 1L, "b" -> 2L, "c" -> 3L)))
    assert(fold(before, "b2", delta("a" -> 1L, "b" -> 2L, "c" -> 3L)))
    val id = "b3"
    val d = delta("a" -> 10L, "d" -> 4L)
    val after = store() // the same store once b3 folded without a crash
    copyTree(before, after)(_ => true)
    assert(fold(after, id, d))
    val want = stateMap(after)
    val gen = 3
    val dataDir = s"data-g$gen"
    val manifest = f"manifest-$gen%012d"
    val swept = f"manifest-${gen - 2}%012d"
    assert(!Files.exists(java.nio.file.Paths.get(after, swept)),
      "the no-crash fold's GC should sweep the superseded manifest")
    // each crash state = the files before the fold plus what the fold's
    // steps had written when it stopped, taken from the no-crash run
    val steps: Seq[(String, String => Unit, Boolean)] = Seq(
      ("orphan data dir written", { crashed =>
        copyTree(after, crashed)(_.startsWith(dataDir))
      }, true),
      ("manifest temp file written", { crashed =>
        copyTree(after, crashed)(_.startsWith(dataDir))
        Files.copy(java.nio.file.Paths.get(after, manifest),
          java.nio.file.Paths.get(crashed, s".manifest-$gen.tmp"))
        ()
      }, true),
      ("manifest committed, GC not run", { crashed =>
        copyTree(after, crashed)(_ => true)
      }, false))
    for ((step, crash, refolds) <- steps) {
      val crashed = store()
      copyTree(before, crashed)(_ => true)
      crash(crashed)
      assert(BucketedFoldStore.processed(spark, crashed, id) == !refolds,
        s"$step: ledger before the retry")
      assert(fold(crashed, id, d) == refolds, s"$step: retry")
      assert(!fold(crashed, id, d), s"$step: second retry")
      assert(stateMap(crashed) == want, s"$step: state after the retry")
      assert(BucketedFoldStore.processed(spark, crashed, id), step)
      // the next fold commits and sweeps whatever the crash left behind
      assert(fold(crashed, "b4", delta("a" -> 100L)), step)
      assert(stateMap(crashed) == want + ("a" -> (want("a") + 100L)), step)
      val left = new java.io.File(crashed).list().toSet
      assert(!left.exists(_.endsWith(".tmp")), s"$step: temp manifest left: $left")
      assert(!left.contains(swept) && !left.contains("data-g1"),
        s"$step: superseded generation left: $left")
    }
  }

  test("GC retains current and previous generations only") {
    val path = store()
    (0 to 4).foreach(i => assert(fold(path, s"mb_$i", delta("a" -> 1L))))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(path)).map(_.getPath.getName).toSet
    val manifests = names.filter(_.startsWith("manifest-"))
    assert(manifests.size == 2, s"expected 2 retained manifests, got $manifests")
    // data dirs: every retained manifest's references exist; nothing else
    val dataDirs = names.filter(_.startsWith("data-g"))
    assert(dataDirs.nonEmpty && dataDirs.size <= 2,
      s"unexpected data dirs: $dataDirs")
    assert(stateMap(path) == Map("a" -> 5L))
  }

  test("readState on a never-committed path fails loudly") {
    intercept[java.io.FileNotFoundException] {
      BucketedFoldStore.readState(spark, store())
    }
    ()
  }
}
