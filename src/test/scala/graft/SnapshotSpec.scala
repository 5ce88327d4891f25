package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Snapshot

/** Corpus-snapshot diffing: per-id added/removed/changed/unchanged. */
class SnapshotSpec extends SparkTestBase {

  import spark.implicits._

  test("diff labels every id with the right status") {
    val oldSnap = Seq(
      (1L, "kept as is"),
      (2L, "gets edited"),
      (3L, "gets deleted"),
      (4L, null.asInstanceOf[String])      // null content, carried over
    ).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "kept as is"),
      (2L, "edited indeed"),
      (4L, null.asInstanceOf[String]),     // null = null → unchanged (<=>)
      (5L, "brand new")
    ).toDF("doc_id", "text")
    val got = Snapshot.diff(oldSnap, newSnap)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    got shouldBe Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added")
    // null-to-value transition is a change, not an 'unchanged' null leak
    val flipped = Snapshot.diff(
      Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      Seq((4L, "now has text")).toDF("doc_id", "text"))
      .head().getString(1)
    flipped shouldBe "changed"
  }

  test("diff of an empty side degrades to all-added / all-removed") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def counts(o: DataFrame, n: DataFrame): Map[String, Long] =
      Snapshot.diff(o, n).groupBy("status").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    counts(empty, a) shouldBe Map("added" -> 2L)
    counts(a, empty) shouldBe Map("removed" -> 2L)
    counts(a, a) shouldBe Map("unchanged" -> 2L)
  }

  test("applyChangeLog: upsert, delete, insert, out-of-order seq, same-seq delete wins") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")).toDF("doc_id", "text")
    val changes = Seq(
      (1L, "upsert", 1L, "A1"),
      (1L, "upsert", 2L, "A2"),  // later seq wins
      (2L, "upsert", 1L, "B"),
      (3L, "delete", 1L, ""),
      (4L, "upsert", 1L, "d"),   // brand-new id
      (5L, "upsert", 3L, "E"),   // same seq as the delete below
      (5L, "delete", 3L, ""),    // tie → delete wins
      (9L, "delete", 1L, "")     // delete of an absent id: no-op
    ).toDF("doc_id", "op", "seq", "text")
    val out = Snapshot.applyChangeLog(base, changes)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out shouldBe Map(1L -> "A2", 2L -> "B", 4L -> "d")
    // no changes → identity
    val empty = Seq.empty[(Long, String, Long, String)].toDF("doc_id", "op", "seq", "text")
    Snapshot.applyChangeLog(base, empty)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap shouldBe
      Map(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "e")
    // a change feed missing a base column is rejected loudly
    an[IllegalArgumentException] should be thrownBy
      Snapshot.applyChangeLog(base, Seq((1L, "upsert", 1L)).toDF("doc_id", "op", "seq"))
  }

  test("applyChangeLog: unrecognized ops never corrupt — no-op on existing ids, no phantom inserts") {
    // the malformed-feed tolerance the tie rule promises, end to end: an
    // op that is neither upsert nor delete keeps an existing id's base
    // payload, and for an id ABSENT from the base it must not insert a
    // row of null payload columns (the pre-fix behavior of the
    // full-outer's unmatched side)
    val base = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val changes = Seq(
      (1L, "UPSERT", 5L, "SHOUTY"), // wrong case: unrecognized, keep "a"
      (7L, "put", 1L, "x"),         // unknown op on a new id: NO phantom row
      (2L, "upsert", 1L, "B")       // a clean change still applies
    ).toDF("doc_id", "op", "seq", "text")
    val out = Snapshot.applyChangeLog(base, changes)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out shouldBe Map(1L -> "a", 2L -> "B")
    // and a malformed op that WINS the seq race on a real id still
    // shadows nothing destructively: base row passes through
    val shadowed = Seq(
      (1L, "upsert", 1L, "early"),
      (1L, "replace", 9L, "late")   // unknown op wins the window
    ).toDF("doc_id", "op", "seq", "text")
    Snapshot.applyChangeLog(base, shadowed)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap shouldBe
      Map(1L -> "a", 2L -> "b")
  }

  test("applyChangeLog: a base row with a genuinely NULL id passes through unchanged") {
    // off-contract input, but the historical behavior (pre-r20) was
    // pass-through; the r20 phantom-insert guard keyed on id nullability
    // and silently dropped it (null id + null __op fails both branches) —
    // base presence is now tagged explicitly (ADVICE r20 fix, r21)
    val base = Seq((Some(1L), "a"), (None, "ghost"))
      .toDF("doc_id", "text")
    val changes = Seq((1L, "upsert", 1L, "A"))
      .toDF("doc_id", "op", "seq", "text")
    val out = Snapshot.applyChangeLog(base, changes)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1))
      .toMap
    out shouldBe Map(Some(1L) -> "A", None -> "ghost")
    // and a delete still cannot reach it: null never equals a change id
    val del = Seq((1L, "delete", 1L, ""))
      .toDF("doc_id", "op", "seq", "text")
    Snapshot.applyChangeLog(base, del)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1))
      .toMap shouldBe Map(None -> "ghost")
  }
}
