package graft.io

import graft.SparkSpec

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): String = {
    spark.sql("CREATE DATABASE IF NOT EXISTS upsert_test")
    s"upsert_test.$name"
  }

  test("upsert into missing table creates it") {
    val t = table("t_create")
    Upsert.upsertTable(spark, t, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    assert(spark.table(t).count() == 2)
  }

  test("matched keys are replaced whole-row, unmatched inserted") {
    val t = table("t_mixed")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Upsert.upsertTable(spark, t, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    Upsert.upsertTable(spark, t, Seq((2, "B2"), (3, "c")).toDF("k", "v"), Seq("k"))
    val rows = spark.table(t).as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "a", 2 -> "B2", 3 -> "c"))
  }

  test("upsert is idempotent") {
    val t = table("t_idem")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val src = Seq((1, "x"), (2, "y")).toDF("k", "v")
    Upsert.upsertTable(spark, t, src, Seq("k"))
    val once = spark.table(t).as[(Int, String)].collect().toSet
    Upsert.upsertTable(spark, t, src, Seq("k"))
    assert(spark.table(t).as[(Int, String)].collect().toSet == once)
  }

  test("duplicate-key source: raw count returned, one survivor per key") {
    val t = table("t_dupkeys")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // reference parity (gold_layer.py:130): records_processed = the raw
    // model-output row count, BEFORE key dedup — 4 here, not 2
    val dup = Seq((1, "a1"), (1, "a2"), (2, "b"), (2, "b")).toDF("k", "v")
    assert(Upsert.upsertTable(spark, t, dup, Seq("k")) == 4)
    assert(spark.table(t).count() == 2)
    // deterministic survivor: first over the total row order
    assert(spark.table(t).as[(Int, String)].collect().toMap ==
      Map(1 -> "a1", 2 -> "b"))
    // merge path (table now exists) reports the raw count too — through
    // a parquet-backed source, so the Observation on the commit's write
    // produces the count
    val p = java.nio.file.Files.createTempDirectory("upsert-dup").toString
    Seq((2, "B2"), (2, "B9"), (3, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(p)
    assert(Upsert.upsertTable(spark, t, spark.read.parquet(p), Seq("k")) == 3)
    assert(spark.table(t).as[(Int, String)].collect().toMap ==
      Map(1 -> "a1", 2 -> "B2", 3 -> "c"))
  }

  test("target duplicate keys the batch does not touch survive unchanged") {
    val t = table("t_targetdups")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1, "a1"), (1, "a2"), (2, "b1"), (2, "b2"), (3, "c"))
      .toDF("k", "v").write.saveAsTable(t)
    assert(Upsert.upsertTable(spark, t,
      Seq((2, "B9"), (2, "B1"), (4, "d")).toDF("k", "v"), Seq("k")) == 3)
    assert(spark.table(t).as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "a1"), (1, "a2"), (2, "B1"), (3, "c"), (4, "d")))
  }

  test("an empty batch counts 0 rows and leaves the table as it is") {
    val t = table("t_empty")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val empty = Seq.empty[(Int, String)].toDF("k", "v")
    assert(Upsert.upsertTable(spark, t, empty, Seq("k")) == 0L)
    assert(spark.table(t).count() == 0L)
    Upsert.upsertTable(spark, t, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    assert(Upsert.upsertTable(spark, t, empty, Seq("k")) == 0L)
    assert(spark.table(t).as[(Int, String)].collect().toSeq == Seq((1, "a")))
  }

  test("applyChangeLog: inserts, updates, deletes; latest-seq wins; replay converges") {
    val t = table("t_cdc")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Upsert.upsertTable(spark, t,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), Seq("k"))
    // k=2 updated then deleted (seq decides: delete wins), k=3 updated,
    // k=4 inserted, k=9 deleted though absent (no-op)
    val log = Seq(
      (2, "b2", "U", 10L), (2, "b2", "D", 11L),
      (3, "c2", "U", 5L),
      (4, "d", "I", 1L),
      (9, "", "D", 3L)).toDF("k", "v", "op", "seq")
    val (ups, dels) = Upsert.applyChangeLog(spark, t, log, Seq("k"))
    assert(ups == 2 && dels == 2, s"got ($ups, $dels)")
    val rows = spark.table(t).as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "a", 3 -> "c2", 4 -> "d"),
      s"unexpected table state: $rows")
    // replaying the identical changelog is a no-op on the state
    Upsert.applyChangeLog(spark, t, log, Seq("k"))
    assert(spark.table(t).as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 3 -> "c2", 4 -> "d"), "replay must converge")
    // a later suffix re-inserts a deleted key
    Upsert.applyChangeLog(spark, t,
      Seq((2, "b3", "I", 20L)).toDF("k", "v", "op", "seq"), Seq("k"))
    assert(spark.table(t).as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "b3", 3 -> "c2", 4 -> "d"))
  }

  test("applyChangeLog creates the table from the insert survivors when absent") {
    val t = table("t_cdc_create")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val (ups, dels) = Upsert.applyChangeLog(spark, t,
      Seq((1, "a", "I", 1L), (2, "b", "I", 1L), (2, "", "D", 2L))
        .toDF("k", "v", "op", "seq"), Seq("k"))
    assert(ups == 1 && dels == 1)
    assert(spark.table(t).as[(Int, String)].collect().toMap == Map(1 -> "a"))
  }

  test("applyChangeLog rejects NULL or unknown op values eagerly") {
    // round-10 advice: a null-op row fell out of both the upsert set
    // (=!= 'D' is null) and the delete count, yet its key stayed in
    // changedKeys — a silent unreported row loss. Garbage ops are a
    // producer bug: fail loudly, table untouched.
    val t = table("t_cdc_badop")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Upsert.upsertTable(spark, t, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    val nullOp = Seq((1, "a2", Option.empty[String], 1L))
      .toDF("k", "v", "op", "seq")
    val e1 = intercept[IllegalArgumentException](
      Upsert.applyChangeLog(spark, t, nullOp, Seq("k")))
    assert(e1.getMessage.contains("invalid op"), e1.getMessage)
    val junkOp = Seq((1, "a2", "X", 1L)).toDF("k", "v", "op", "seq")
    val e2 = intercept[IllegalArgumentException](
      Upsert.applyChangeLog(spark, t, junkOp, Seq("k")))
    assert(e2.getMessage.contains("X"), e2.getMessage)
    // validation sees the RAW feed: a garbage row SUPERSEDED by a later
    // seq for the same key must still fail (post-dedup it would vanish,
    // making "does a broken producer fail loudly" depend on unrelated
    // traffic per key)
    val superseded = Seq((1, "junk", "X", 1L), (1, "ok", "U", 2L))
      .toDF("k", "v", "op", "seq")
    val e3 = intercept[IllegalArgumentException](
      Upsert.applyChangeLog(spark, t, superseded, Seq("k")))
    assert(e3.getMessage.contains("X"), e3.getMessage)
    assert(spark.table(t).as[(Int, String)].collect().toMap == Map(1 -> "a"),
      "a rejected changelog must not touch the table")
  }

  test("null-keyed rows: changelog replaces/deletes them, upsert replaces them") {
    // round-10 advice: === on keys never matches NULL, so a null-keyed
    // change appended a duplicate and a null-keyed delete no-op'd while
    // counted — <=> must treat null keys as one key
    val t = table("t_cdc_nullkey")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Upsert.upsertTable(spark, t,
      Seq((Option(1), "a"), (Option.empty[Int], "nk")).toDF("k", "v"), Seq("k"))
    // upsert path: null-keyed source row REPLACES the null-keyed target row
    Upsert.upsertTable(spark, t,
      Seq((Option.empty[Int], "nk2")).toDF("k", "v"), Seq("k"))
    assert(spark.table(t).as[(Option[Int], String)].collect().toSet ==
      Set((Some(1), "a"), (None, "nk2")), "null-keyed upsert must replace")
    // changelog path: null-keyed update replaces, then null-keyed delete removes
    Upsert.applyChangeLog(spark, t,
      Seq((Option.empty[Int], "nk3", "U", 1L)).toDF("k", "v", "op", "seq"),
      Seq("k"))
    assert(spark.table(t).as[(Option[Int], String)].collect().toSet ==
      Set((Some(1), "a"), (None, "nk3")), "null-keyed change must replace")
    val (_, dels) = Upsert.applyChangeLog(spark, t,
      Seq((Option.empty[Int], "", "D", 2L)).toDF("k", "v", "op", "seq"),
      Seq("k"))
    assert(dels == 1)
    assert(spark.table(t).as[(Option[Int], String)].collect().toSet ==
      Set((Some(1), "a")), "null-keyed delete must actually delete")
  }

  test("composite keys match on the full conjunction") {
    val t = table("t_comp")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Upsert.upsertTable(spark, t,
      Seq(("2024-01-01", "toys", 1L), ("2024-01-01", "books", 2L))
        .toDF("d", "cat", "n"), Seq("d", "cat"))
    Upsert.upsertTable(spark, t,
      Seq(("2024-01-01", "toys", 9L), ("2024-01-02", "toys", 3L))
        .toDF("d", "cat", "n"), Seq("d", "cat"))
    val rows = spark.table(t).as[(String, String, Long)].collect().toSet
    assert(rows == Set(("2024-01-01", "toys", 9L), ("2024-01-01", "books", 2L),
      ("2024-01-02", "toys", 3L)))
  }
}
