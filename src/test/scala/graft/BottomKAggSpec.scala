package graft

import graft.functions.{BottomKAgg, SampleRow}

/** The sketch contract of [[BottomKAgg]]: bottom-k of a union equals
  * the merge of per-part bottom-k's (MERGEABILITY — the property that
  * bounds every map-side partial at k rows), and the fold is
  * order-insensitive. Pure Scala: the Spark-side identity with the SQL
  * window derivation is the q158 oracle gate.
  */
class BottomKAggSpec extends SparkSuite {
  private def ref(rows: Seq[SampleRow], k: Int): Seq[SampleRow] =
    rows.sortBy(r => (r.hx, r.id)).take(k)

  private def fold(agg: BottomKAgg, rows: Seq[SampleRow]): Seq[SampleRow] =
    rows.foldLeft(agg.zero)(agg.reduce)

  private def lcgRows(n: Int, seed0: Long): Seq[SampleRow] = {
    var seed = seed0
    def next(): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 33)
    }
    (1 to n).map(i =>
      SampleRow(next() % 1000, i.toLong, (next() % 10000) / 100.0))
  }

  test("fold equals sorted-take-k regardless of arrival order") {
    val agg = new BottomKAgg(16)
    val rows = lcgRows(500, 7L)
    assert(fold(agg, rows) == ref(rows, 16))
    assert(fold(agg, rows.reverse) == ref(rows, 16))
    assert(fold(agg, rows.sortBy(_.v)) == ref(rows, 16))
  }

  test("mergeability: merge of per-part bottom-k equals bottom-k of union") {
    val agg = new BottomKAgg(32)
    for (seed <- 1L to 5L) {
      val rows = lcgRows(400, seed)
      val (a, b) = rows.splitAt(137)
      assert(agg.merge(fold(agg, a), fold(agg, b)) == ref(rows, 32))
      // associativity across three parts
      val (x, rest) = rows.splitAt(100)
      val (y, z) = rest.splitAt(150)
      assert(agg.merge(agg.merge(fold(agg, x), fold(agg, y)), fold(agg, z))
        == ref(rows, 32))
      assert(agg.merge(fold(agg, x), agg.merge(fold(agg, y), fold(agg, z)))
        == ref(rows, 32))
    }
  }

  test("distinctKeys: duplicates collapse in reduce AND across merge") {
    val agg = new BottomKAgg(8, distinctKeys = true)
    val base = lcgRows(50, 11L)
    val dup = base ++ base ++ base.take(20)
    val want = base.distinct.sortBy(r => (r.hx, r.id)).take(8)
    assert(fold(agg, dup) == want)
    // the same key arriving on both merge sides must emit once
    val (a, b) = dup.splitAt(60)
    assert(agg.merge(fold(agg, a), fold(agg, b)) == want)
    // KMV usage shape: id == hx, value ignored
    val kmv = (1 to 40).map(i => SampleRow((i % 10).toLong, (i % 10).toLong, 0.0))
    assert(fold(agg, kmv).map(_.hx) == (0L to 7L))
  }

  test("underfull and tie-heavy inputs") {
    val agg = new BottomKAgg(64)
    val few = lcgRows(10, 3L)
    assert(fold(agg, few) == ref(few, 64))
    // identical hashes: tie-break must fall to id
    val ties = (1 to 100).map(i => SampleRow(42L, 101L - i, i.toDouble))
    assert(fold(agg, ties) == ref(ties, 64))
    assert(fold(agg, ties).map(_.id) == (1L to 64L))
  }

  test("native BottomKExpr equals the Aggregator form on Spark, " +
      "across forced multi-partition merges, both key modes") {
    import org.apache.spark.sql.functions.{col, udaf}
    import spark.implicits._
    for (seed <- 1L to 3L; k <- Seq(1, 8, 100); distinct <- Seq(false, true)) {
      val rows = lcgRows(700, seed) ++ lcgRows(700, seed) // dup-heavy
      val df = rows.map(r => (r.hx % 3, r.hx, r.id, r.v))
        .toDF("g", "hx", "id", "v")
        .repartition(7) // > shuffle partitions: real partial merges
      val bk = udaf(new BottomKAgg(k, distinct))
      val viaAgg = df.groupBy(col("g"))
        .agg(bk(col("hx"), col("id"), col("v")).as("s"))
        .as[(Long, Seq[(Long, Long, Double)])].collect().toMap
      val viaExpr = df.groupBy(col("g"))
        .agg(graft.functions.BottomKExpr.column(
          col("hx"), col("id"), col("v"), k, distinct).as("s"))
        .as[(Long, Seq[(Long, Long, Double)])].collect().toMap
      assert(viaExpr === viaAgg,
        s"native/Aggregator divergence at seed=$seed k=$k distinct=$distinct")
      assert(viaAgg.values.exists(_.nonEmpty))
    }
  }

  test("BottomKExpr tolerates narrower input types via implicit casts " +
      "(int keys/ids, float values) — the Aggregator-form contract") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // INT hx/id and FLOAT v: before inputTypes was declared this threw
    // ClassCastException at runtime; now analysis inserts casts.
    val df = (1 to 200).map(i => ((i % 3), (i % 37), 201 - i, i / 7.0f))
      .toDF("g", "hx", "id", "v").repartition(5)
    val got = df.groupBy(col("g"))
      .agg(graft.functions.BottomKExpr.column(
        col("hx"), col("id"), col("v"), 10).as("s"))
      .as[(Int, Seq[(Long, Long, Double)])].collect().toMap
    assert(got.size == 3)
    for ((g, s) <- got) {
      val want = (1 to 200).filter(_ % 3 == g)
        .map(i => ((i % 37).toLong, (201 - i).toLong, (i / 7.0f).toDouble))
        .sortBy(t => (t._1, t._2)).take(10)
      assert(s == want, s"group $g")
    }
  }
}
