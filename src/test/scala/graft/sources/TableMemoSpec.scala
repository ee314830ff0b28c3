package graft.sources

import graft.SparkTestBase

/** The parquet-plan memo (Fixtures.readParquet) reuses METADATA only:
  * same lazy plan per (session, path, ContentStamp), fresh listing when
  * the table is rewritten — never stale rows, never cached rows.
  */
class TableMemoSpec extends SparkTestBase {

  test("repeated reads reuse the same lazy plan") {
    val a = Fixtures.readParquet(spark, s"$sf0001/documents.parquet")
    val b = Fixtures.readParquet(spark, s"$sf0001/documents.parquet")
    assert(a eq b, "second read must return the memoized DataFrame")
  }

  test("rewriting the table invalidates the memo (content stamp)") {
    import spark.implicits._
    val dir = tempDir("graft_memo_spec").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(path)
    val first = Fixtures.readParquet(spark, path)
    assert(first.count() == 2)
    // rewrite with different content at the same path
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "dddddddddd")).toDF("id", "v")
      .write.mode("overwrite").parquet(path)
    val second = Fixtures.readParquet(spark, path)
    assert(second ne first, "changed content must produce a fresh plan")
    assert(second.count() == 4, "the fresh plan must see the new rows")
  }

  test("rewriting a hive-partitioned table invalidates the memo (recursive stamp)") {
    import spark.implicits._
    // Knn.writeIndexed layout: only pcell=N/ directories at the top level,
    // so a rewrite into the same partitions changes nothing one level deep
    val path = tempDir("graft_memo_hive").toString + "/idx"
    def pages(n: Int) = (0 until n).map(i => (s"u$i", 4.35 + i * 1e-4, 50.85)).toDF("url", "lon", "lat")
    graft.operators.Knn.writeIndexed(pages(3), path)
    val first = Fixtures.readParquet(spark, path)
    assert(first.count() == 3)
    graft.operators.Knn.writeIndexed(pages(5), path)
    val second = Fixtures.readParquet(spark, path)
    assert(second ne first, "a rewritten partitioned table must produce a fresh plan")
    assert(second.count() == 5, "the fresh plan must see the new rows")
  }

  test("registerViews serves current rows through the memo") {
    graft.SparkEntry.registerViews(spark, sf0001)
    val n1 = spark.sql("SELECT count(*) FROM documents").head().getLong(0)
    graft.SparkEntry.registerViews(spark, sf0001) // second call: memo path
    val n2 = spark.sql("SELECT count(*) FROM documents").head().getLong(0)
    assert(n1 == n2 && n1 > 0)
  }
}
