package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Upsert

class UpsertSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("mergeByKey: $set semantics — update wins (even a NULL value), " +
    "inserts and untouched rows kept") {
    val existing = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "score")
    // update 2 ($set name to NULL — reference stores doc_vectors=None
    // for empty docs, worker.py:87-94), insert 4
    val updates = Seq((2L, None: Option[String], 20.0),
      (4L, Some("d"), 4.0))
      .toDF("id", "name", "score")
    val merged = Upsert.mergeByKey(existing, updates, "id")
      .as[(Long, Option[String], Double)].collect().sortBy(_._1)
    assert(merged === Array(
      (1L, Some("a"), 1.0),
      (2L, None, 20.0), // the NULL is written back, not coalesced away
      (3L, Some("c"), 3.0),
      (4L, Some("d"), 4.0)))
  }

  test("mergeByKey: a NULL-key update row keeps its values (insert, not erased)") {
    val existing = Seq((1L, "a", 1.0)).toDF("id", "name", "score")
    val updates = Seq((Option.empty[Long], Some("orphan"), 7.0))
      .toDF("id", "name", "score")
    val merged = Upsert.mergeByKey(existing, updates, "id")
      .as[(Option[Long], Option[String], Double)].collect()
      .sortBy(_._1.getOrElse(Long.MaxValue))
    assert(merged === Array(
      (Some(1L), Some("a"), 1.0),
      // NULL key never joins — the row must surface with its OWN
      // values, not an all-NULL husk from the absent existing side
      (None, Some("orphan"), 7.0)))
  }

  test("mergeByKey handles disjoint column sets") {
    val existing = Seq((1L, "a")).toDF("id", "name")
    val updates = Seq((1L, 9.0)).toDF("id", "idf")
    val merged = Upsert.mergeByKey(existing, updates, "id")
    assert(merged.columns.toSet === Set("id", "name", "idf"))
    val r = merged.collect().head
    assert(r.getAs[String]("name") === "a")
    assert(r.getAs[Double]("idf") === 9.0)
  }

  test("mergeByKey survives an input column named like the marker") {
    val existing = Seq((1L, "a", false)).toDF("id", "name", "__graft_upd")
    val updates = Seq((1L, "b", true), (2L, "c", false))
      .toDF("id", "name", "__graft_upd")
    val merged = Upsert.mergeByKey(existing, updates, "id")
    // the user's column must survive, not be overwritten by the
    // internal row-presence marker
    assert(merged.columns.toSet === Set("id", "name", "__graft_upd"))
    val rows = merged.orderBy("id")
      .as[(Long, String, Boolean)].collect().toSeq
    assert(rows === Seq((1L, "b", true), (2L, "c", false)))
  }

  test("a replayed batch=N slice overwrites itself and reads back once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    df.write.mode("overwrite").parquet(s"$dir/batch=0")
    df.write.mode("overwrite").parquet(s"$dir/batch=0") // the replay
    assert(Upsert.latestByKey(spark.read.parquet(dir), "id").count() === 2)
  }

  test("latestByKey: the highest batch wins the whole row, even a NULL value") {
    val dir = java.nio.file.Files.createTempDirectory("graft_latest").toString
    def slice(batch: Long, rows: (Long, Option[String], Double)*): Unit =
      rows.toDF("id", "name", "score").write.parquet(s"$dir/batch=$batch")
    // batch=-1 is a compacted slice: every later batch sorts above it
    slice(-1L, (1L, Some("a"), 1.0), (2L, Some("b"), 2.0))
    slice(0L, (2L, None, 20.0), (3L, Some("c"), 3.0))
    slice(3L, (1L, Some("z"), 10.0))
    val latest = Upsert.latestByKey(spark.read.parquet(dir), "id")
    assert(latest.columns.toSeq === Seq("id", "name", "score", "batch"))
    assert(latest.select("id", "name", "score")
      .as[(Long, Option[String], Double)].collect().sortBy(_._1) === Array(
        (1L, Some("z"), 10.0),
        (2L, None, 20.0), // the NULL is the later row's, not coalesced away
        (3L, Some("c"), 3.0)))
  }
}
