package graft

import java.nio.file.{Files, Paths}

import graft.sources.Snapshots

/** The snapshot commit protocol: atomic publication, isolation from
  * uncommitted staging data, time travel, and the optimistic-concurrency
  * version race. */
class SnapshotsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    Scratch.fresh("snap-spec")

  test("snapshot queries key their table by corpus: sf0.001, then sf0.01") {
    val q = SparkEntry.queries("snapshot_time_travel")
    q(spark, sf0001).collect()
    val v2 = q(spark, sf001).filter($"version" === 2L).select("cnt")
      .as[Long].head()
    assert(v2 == Tables(spark, sf001, "orders").count(),
      "the sf0.01 run read the table an earlier sf0.001 run built")
  }

  test("commit/read round trip and time travel across versions") {
    val root = freshRoot()
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    val v2 = Snapshots.commit(
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "s"), root)
    assert(v1 == 1L && v2 == 2L)
    assert(Snapshots.latestVersion(root).contains(2L))
    // latest read sees v2; as-of v1 still reads the ORIGINAL snapshot
    assert(Snapshots.read(spark, root).count() == 3L)
    val old = Snapshots.read(spark, root, Some(1L))
      .as[(Long, String)].collect().toSet
    assert(old == Set((1L, "a"), (2L, "b")))
  }

  test("uncommitted staging data is structurally invisible") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 10L)).toDF("k", "v"), root)
    // a crashed writer's orphan staging dir: data present, never published
    Seq((99L, 99L)).toDF("k", "v")
      .write.parquet(s"$root/data/orphan-stage")
    assert(Snapshots.read(spark, root).count() == 1L,
      "reader must plan only manifest-listed files")
  }

  test("version race: loser retries past the taken number") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 1L)).toDF("k", "v"), root)
    // another writer published v2 between our latestVersion() and move
    Files.write(Paths.get(root, "_manifests", "v2.list"),
      Array.emptyByteArray)
    intercept[IllegalArgumentException] { // v2's empty manifest: no files
      Snapshots.read(spark, root, Some(2L)).count()
    }
    val v = Snapshots.commit(Seq((2L, 2L)).toDF("k", "v"), root)
    assert(v == 3L, s"commit must skip the taken v2, got v$v")
    assert(Snapshots.read(spark, root, Some(3L)).count() == 1L)
  }

  test("vacuum: drops old versions + orphans, keeps the retained window") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 1L)).toDF("k", "v"), root) // v1
    Snapshots.commit(Seq((2L, 2L)).toDF("k", "v"), root) // v2
    Snapshots.commit(Seq((3L, 3L)).toDF("k", "v"), root) // v3
    Seq((99L, 99L)).toDF("k", "v") // orphan stage, never published
      .write.parquet(s"$root/data/orphan-stage")
    val deleted = Snapshots.vacuum(root, keepLast = 2)
    assert(deleted > 0, "v1's data files and the orphan must be deleted")
    // retained window still reads, including time travel to v2
    assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSeq
      == Seq((3L, 3L)))
    assert(Snapshots.read(spark, root, Some(2L))
      .as[(Long, Long)].collect().toSeq == Seq((2L, 2L)))
    // v1 is gone: manifest removed before data, so resolution fails fast
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(1L))
    }
  }

  test("commitAppend: versions accumulate; every version is a prefix") {
    val root = freshRoot()
    Snapshots.commitAppend(Seq((1L, 1L)).toDF("k", "v"), root)
    Snapshots.commitAppend(Seq((2L, 2L)).toDF("k", "v"), root)
    Snapshots.commitAppend(Seq((3L, 3L)).toDF("k", "v"), root)
    assert(Snapshots.latestVersion(root).contains(3L))
    (1L to 3L).foreach { v =>
      val ks = Snapshots.read(spark, root, Some(v))
        .select("k").as[Long].collect().toSet
      assert(ks == (1L to v).toSet, s"v$v must be the first $v batches")
    }
  }

  test("commitDelete: file-granular COW — untouched files carry by reference") {
    val root = freshRoot()
    // two hand-staged files: ks 1-3 and ks 10-12; delete k=11 -> file A
    // must carry untouched, file B rewrites without 11
    import org.apache.spark.sql.functions.col
    Snapshots.commit(
      Seq(1L, 2L, 3L).toDF("k").coalesce(1)
        .unionByName(Seq(10L, 11L, 12L).toDF("k").coalesce(1))
        .repartitionByRange(2, col("k")), root)
    val (v, carried, rewritten) =
      Snapshots.commitDelete(spark, root, col("k") === 11L)
    assert(v == 2L && carried == 1 && rewritten == 1,
      s"expected 1 carried + 1 rewritten, got ($carried, $rewritten)")
    assert(Snapshots.read(spark, root).as[Long].collect().toSet
      == Set(1L, 2L, 3L, 10L, 12L))
    // pre-delete version still readable until vacuum (two-phase erasure)
    assert(Snapshots.read(spark, root, Some(1L)).as[Long].collect().toSet
      .contains(11L))
    Snapshots.vacuum(root, keepLast = 1)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(1L))
    }
  }

  test("commitMerge: update + delete + insert in one version; untouched files carry") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    // file A: ks 1-3, file B: ks 10-12 (values = k*10)
    Snapshots.commit(
      Seq(1L, 2L, 3L).map(k => (k, k * 10)).toDF("k", "v").coalesce(1)
        .unionByName(Seq(10L, 11L, 12L).map(k => (k, k * 10))
          .toDF("k", "v").coalesce(1))
        .repartitionByRange(2, col("k")), root)
    // update k=11 -> v=999; delete k=12; insert k=20; tombstone for the
    // absent k=77 is a no-op; file A never holds a matched key -> carries
    val changes = Seq(
      (11L, 999L, false), (12L, 0L, true), (20L, 200L, false),
      (77L, 0L, true)).toDF("k", "v", "_delete")
    val (v, carried, changed) =
      Snapshots.commitMerge(spark, root, changes, "k")
    assert(v == 2L && carried == 1, s"expected 1 carried, got $carried")
    assert(changed >= 2, s"rewrite + upsert batch expected, got $changed")
    assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSet
      == Set((1L, 10L), (2L, 20L), (3L, 30L), (10L, 100L),
        (11L, 999L), (20L, 200L)))
    // pre-merge version still time-travels
    assert(Snapshots.read(spark, root, Some(1L)).as[(Long, Long)]
      .collect().toSet.contains((12L, 120L)))
  }

  test("WAP branch: isolation, fast-forward, and the stale-base conflict") {
    val root = freshRoot()
    Snapshots.commit(Seq(1L, 2L).toDF("k"), root)
    Snapshots.createBranch(root, "audit")
    Snapshots.commitAppendToBranch(Seq(3L).toDF("k"), root, "audit")
    // isolation: main readers see v1 only; the branch sees its append
    assert(Snapshots.read(spark, root).as[Long].collect().toSet
      == Set(1L, 2L))
    assert(Snapshots.readBranch(spark, root, "audit")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    // publish: one conditional link, main jumps to the audited state
    val v = Snapshots.fastForward(root, "audit")
    assert(v == 2L)
    assert(Snapshots.read(spark, root).as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    // conflict: a branch cut before an interleaved main commit cannot
    // fast-forward (its audit ran against a stale base)
    Snapshots.createBranch(root, "audit2")
    Snapshots.commitAppendToBranch(Seq(4L).toDF("k"), root, "audit2")
    Snapshots.commitAppend(Seq(9L).toDF("k"), root) // main moves to v3
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.fastForward(root, "audit2")
    }
  }

  test("WAP branch: open branches pin their files against vacuum; dropBranch releases") {
    val root = freshRoot()
    Snapshots.commit(Seq(1L).toDF("k"), root)
    Snapshots.createBranch(root, "wip")
    Snapshots.commitAppendToBranch(Seq(2L).toDF("k"), root, "wip")
    Snapshots.commitAppend(Seq(5L).toDF("k"), root) // v2 on main
    Snapshots.vacuum(root, keepLast = 1)
    // the branch-only file survived the vacuum
    assert(Snapshots.readBranch(spark, root, "wip")
      .as[Long].collect().toSet == Set(1L, 2L))
    Snapshots.dropBranch(root, "wip")
    intercept[IllegalArgumentException] {
      Snapshots.readBranch(spark, root, "wip")
    }
  }

  test("readEvolved: appended new column is NULL on old files; old readers unaffected") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    Snapshots.commitAppend(
      Seq((3L, 30L, 7L)).toDF("k", "v", "band"), root)
    val evolved = Snapshots.readEvolved(spark, root)
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(evolved == Set((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, Some(7L))))
    // time travel to v1 keeps the ORIGINAL two-column schema
    val v1 = Snapshots.read(spark, root, Some(1L))
    assert(v1.columns.toSeq == Seq("k", "v"))
    assert(v1.count() == 2)
  }

  test("commitMerge: all-tombstone batch shrinks the table; racing append survives") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    Snapshots.commit(
      Seq(1L, 2L, 3L).map(k => (k, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")), root)
    // an append races in between the merge's probe and its publication
    val changes = Seq((2L, 0L, true)).toDF("k", "v", "_delete")
    val (v, _, _) = Snapshots.commitMerge(spark, root, changes, "k",
      raceHook = () =>
        Snapshots.commitAppend(Seq((9L, 9L)).toDF("k", "v"), root))
    assert(v == 3L) // the racing append took v2; the merge rebased to v3
    assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSet
      == Set((1L, 1L), (3L, 3L), (9L, 9L)))
  }

  test("commitDelete: no matches carries everything; full erase -> empty table version") {
    val root = freshRoot()
    import org.apache.spark.sql.functions.col
    Snapshots.commit(Seq(1L, 2L).toDF("k"), root)
    val (v, carried, rewritten) =
      Snapshots.commitDelete(spark, root, col("k") === 99L)
    assert(rewritten == 0 && carried > 0)
    assert(Snapshots.read(spark, root, Some(v)).count() == 2L)
    // deleting every row is a legitimate state: an EMPTY table version
    // (the rewrite's 0-row part file carries the schema)
    val (v2, c2, _) = Snapshots.commitDelete(spark, root, col("k") < 100L)
    assert(c2 == 0)
    val emptied = Snapshots.read(spark, root, Some(v2))
    assert(emptied.count() == 0L && emptied.columns.toSeq == Seq("k"))
  }

  test("commitClustered/readBand: stats sidecars skip files across stages") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // stage 1: ks 0..99 in 4 range-clustered files; stage 2 (append):
    // ks 100..199 in 4 more — a band inside stage 1 must not open
    // stage 2's files (nor most of stage 1's)
    Snapshots.commitClustered(spark,
      spark.range(0, 100).selectExpr("id AS k", "id * 10 AS v"),
      root, "k", 4)
    Snapshots.commitClustered(spark,
      spark.range(100, 200).selectExpr("id AS k", "id * 10 AS v"),
      root, "k", 4, append = true)
    val band = Snapshots.readBand(spark, root, "k", 10L, 30L)
    assert(band.select("k").as[Long].collect().sorted.toSeq
      == (10L until 30L).toSeq)
    val opened = band.select(
      org.apache.spark.sql.functions.input_file_name()).distinct().count()
    assert(opened < 8 && opened >= 1,
      s"band of 20 keys must not open all 8 files, opened $opened")
    // time travel composes: the v1 band sees only stage-1 data
    assert(Snapshots.readBand(spark, root, "k", 0L, 1000L, asOf = Some(1L))
      .count() == 100L)
    // vacuum keeps the live stages' sidecars: band reads still prune
    Snapshots.commitDelete(spark, root, col("k") === 150L)
    Snapshots.vacuum(root, keepLast = 1)
    val after = Snapshots.readBand(spark, root, "k", 10L, 30L)
    assert(after.count() == 20L)
    val openedAfter = after.select(
      org.apache.spark.sql.functions.input_file_name()).distinct().count()
    assert(openedAfter < 8, s"post-vacuum pruning lost: $openedAfter")
  }

  test("readVersionDelta: exactly the appended rows, refusal modes") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("k", "v"), root)
    Snapshots.commitAppend(Seq((4L, 40L), (5L, 50L)).toDF("k", "v"), root)
    assert(Snapshots.readVersionDelta(spark, root, 1L, 2L)
      .select("k").as[Long].collect().toSet == Set(3L))
    // spanning delta = both appends, never v1's rows
    assert(Snapshots.readVersionDelta(spark, root, 1L, 3L)
      .select("k").as[Long].collect().toSet == Set(3L, 4L, 5L))
    intercept[IllegalArgumentException] {
      Snapshots.readVersionDelta(spark, root, 2L, 2L)
    }
    intercept[IllegalArgumentException] {
      Snapshots.readVersionDelta(spark, root, 1L, 9L) // never published
    }
  }

  test("refuses reads with no committed snapshot or unknown version") {
    val root = freshRoot()
    intercept[IllegalArgumentException] { Snapshots.read(spark, root) }
    Snapshots.commit(Seq((1L, 1L)).toDF("k", "v"), root)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(7L))
    }
  }

  test("commitDelete keeps rows whose predicate evaluates to NULL " +
      "(ADVICE r5: Not(NULL) = NULL must not erase)") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // email nullable: the NULL-email row matches nothing and must survive
    Snapshots.commit(
      Seq((1L, Some("x@y")), (2L, None), (3L, Some("z@w")))
        .toDF("k", "email"), root)
    val (_, _, _) = Snapshots.commitDelete(spark, root,
      col("email") === "x@y")
    val kept = Snapshots.read(spark, root)
      .select("k").as[Long].collect().toSet
    assert(kept == Set(2L, 3L),
      s"NULL-predicate row was erased: kept only $kept")
  }

  test("commitDelete racing commitAppend: the appended file survives " +
      "AND its matching rows are deleted (VERDICT r5 item 5)") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    Snapshots.commit(
      Seq((1L, "keep"), (2L, "drop")).toDF("k", "tag")
        .repartition(2), root)
    // the hook fires after the delete probed/rewrote v1 but BEFORE its
    // first publication attempt — a concurrent append wins v2
    var appendedV = -1L
    val (v, _, _) = Snapshots.commitDelete(spark, root,
      col("tag") === "drop",
      raceHook = () => {
        appendedV = Snapshots.commitAppend(
          Seq((3L, "keep"), (4L, "drop")).toDF("k", "tag"), root)
      })
    assert(appendedV == 2L && v == 3L,
      s"expected append v2 then delete v3, got append v$appendedV delete v$v")
    val finalRows = Snapshots.read(spark, root)
      .as[(Long, String)].collect().toSet
    // no appended row silently dropped; every 'drop' row (including the
    // concurrently appended one) deleted
    assert(finalRows == Set((1L, "keep"), (3L, "keep")), finalRows.toString)
  }

  test("concurrent delete/delete is a write-write conflict, not silent " +
      "loss: the loser aborts with ConcurrentModificationException") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // one data file, so both deletes must rewrite the SAME file — the
    // unresolvable write-write overlap (disjoint-file deletes compose
    // fine through the rebase, as the racing-append test shows)
    Snapshots.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "tag").coalesce(1), root)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.commitDelete(spark, root, col("tag") === "a",
        raceHook = () => {
          // the inner delete rewrites the same file the outer one did
          Snapshots.commitDelete(spark, root, col("tag") === "b")
          ()
        })
    }
    // the inner delete's result stands; the table is consistent
    val rows = Snapshots.read(spark, root)
      .as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a")))
  }

  test("commitAppend under real thread contention: every appender's " +
      "rows survive (publishRebased re-reads the winner's manifest)") {
    val root = freshRoot()
    Snapshots.commit(Seq((0L, 0L)).toDF("k", "v"), root)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fs = (1 to 6).map { i =>
      Future(Snapshots.commitAppend(Seq((i.toLong, i.toLong)).toDF("k", "v"), root))
    }
    val vs = fs.map(Await.result(_, Duration.Inf))
    assert(vs.toSet.size == 6, s"versions must be distinct: $vs")
    val keys = Snapshots.read(spark, root).select("k").as[Long].collect().toSet
    assert(keys == (0L to 6L).toSet, s"lost an append: $keys")
  }

  test("compact: identical contents in targetFiles files; time travel " +
      "intact; a racing append carries uncompacted") {
    val root = freshRoot()
    (1 to 4).foreach { i =>
      Snapshots.commitAppend(Seq((i.toLong, i.toLong)).toDF("k", "v")
        .coalesce(1), root)
    }
    var appended = false
    val (v, before, after) = Snapshots.compact(spark, root, targetFiles = 2,
      raceHook = () => {
        Snapshots.commitAppend(Seq((9L, 9L)).toDF("k", "v").coalesce(1), root)
        appended = true
      })
    assert(appended && v == 6L && before == 4 && after == 2)
    val cur = Snapshots.read(spark, root)
    // the racing append's row survives, uncompacted (3 files: 2 + 1)
    assert(cur.select("k").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 9L))
    assert(cur.inputFiles.length == 3)
    // pre-compaction version still time-travels
    assert(Snapshots.read(spark, root, Some(4L))
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // a racing DELETE of a compacted source is a write-write conflict
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.compact(spark, root, targetFiles = 1,
        raceHook = () => {
          import org.apache.spark.sql.functions.col
          Snapshots.commitDelete(spark, root, col("k") === 9L)
          ()
        })
    }
  }

  test("commitClustered(append) racing another commit keeps both " +
      "(the round-5 lost-update path)") {
    import org.apache.spark.sql.functions.col
    // deterministic interleave: pre-take the version number the
    // clustered append will try first, exactly like the version-race
    // test, but with CONTENT in the winner manifest — the old code kept
    // the pre-read base and dropped the winner's file on retry
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 1L)).toDF("k", "v"), root)
    // winner: a real append published as v2 by another writer
    val winnerV = Snapshots.commitAppend(Seq((2L, 2L)).toDF("k", "v"), root)
    assert(winnerV == 2L)
    val v = Snapshots.commitClustered(spark,
      Seq((3L, 3L), (4L, 4L)).toDF("k", "v"), root, "k", 2, append = true)
    assert(v == 3L)
    val keys = Snapshots.read(spark, root).select("k").as[Long].collect().toSet
    assert(keys == Set(1L, 2L, 3L, 4L), s"append dropped files: $keys")
  }

  test("commitMerge refuses duplicate change keys before staging anything") {
    import org.apache.spark.sql.functions.lit
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 10L)).toDF("k", "v"), root)
    val dup = Seq((2L, 20L), (2L, 21L)).toDF("k", "v")
      .withColumn("_delete", lit(false))
    val e = intercept[IllegalArgumentException](
      Snapshots.commitMerge(spark, root, dup, "k"))
    assert(e.getMessage.contains("unique change keys"))
    // nothing staged, nothing published: still one version, one row
    assert(Snapshots.read(spark, root).count() == 1L)
  }

  test("branch lifecycle guards: reads never mint directories, " +
      "re-create is refused atomically") {
    val root = freshRoot()
    Snapshots.commit(Seq((1L, 1L)).toDF("k", "v"), root)
    // read/append/drop on a branch that was never created must throw AND
    // leave no stray directory for vacuum to scan forever
    intercept[IllegalArgumentException](
      Snapshots.readBranch(spark, root, "ghost"))
    intercept[IllegalArgumentException](
      Snapshots.commitAppendToBranch(Seq((2L, 2L)).toDF("k", "v"),
        root, "ghost"))
    intercept[IllegalArgumentException](Snapshots.dropBranch(root, "ghost"))
    intercept[IllegalArgumentException](Snapshots.fastForward(root, "ghost"))
    assert(!Files.exists(
      Paths.get(root, "_manifests", "branches", "ghost")),
      "read path minted a stray branch directory")
    // create-then-create: the base file is the CREATE_NEW existence
    // token, so the second create loses deterministically
    Snapshots.createBranch(root, "audit3")
    val e = intercept[IllegalArgumentException](
      Snapshots.createBranch(root, "audit3"))
    assert(e.getMessage.contains("already exists"))
    // after a drop the name is reusable (the token goes with the dir)
    Snapshots.dropBranch(root, "audit3")
    assert(Snapshots.createBranch(root, "audit3") >= 1L)
  }
}
