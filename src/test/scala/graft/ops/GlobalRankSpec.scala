package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GlobalRankSpec extends SparkSpec {

  test("distributed global rank equals single-partition row_number") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val cols = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
      col("l_linenumber").asc)
    val dist = GlobalRank.withGlobalRank(li, cols)
      .select("l_orderkey", "l_linenumber", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val window = li
      .withColumn("rank", row_number().over(Window.orderBy(cols: _*)).cast("long"))
      .select("l_orderkey", "l_linenumber", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(dist == window)
  }

  test("broadcast-offset path (forced) matches the offset-array path") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
    val cols = Seq(col("l_orderkey").asc, col("l_linenumber").asc)
    val arr = GlobalRank.withGlobalRank(li, cols)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bcast = GlobalRank.withGlobalRank(li, cols, maxOffsetArray = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(bcast == arr)
  }

  test("2000-partition rank takes the broadcast path and stays correct") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2000")
      val li = graft.Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      val cols = Seq(col("l_orderkey").asc, col("l_linenumber").asc)
      val ranked = GlobalRank.withGlobalRank(li, cols)
      val ranks = ranked.select("rank").collect().map(_.getLong(0)).sorted
      assert(ranks.toSeq == (1L to li.count()).toSeq)
      // spot-check the head matches the window ranking
      val first = ranked.orderBy("rank").limit(3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val expect = li.orderBy(cols: _*).limit(3).collect()
        .zipWithIndex.map { case (r, i) => (r.getLong(0), r.getInt(1), i + 1L) }.toSeq
      assert(first == expect)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("tracked release: no graft-owned persisted RDD survives a ranked write") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars")
    val tracked = GlobalRank.withGlobalRankTracked(docs,
      Seq(col("n_chars").desc, col("doc_id").asc))
    val out = "/tmp/graft_test/rank_release"
    tracked.df.write.mode("overwrite").parquet(out) // materialize downstream
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "the checkpoint should be live while the ranked frame is in use")
    tracked.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "release() must leave no graft-owned persisted RDD behind")
    // the written result is intact and contiguous
    val ranks = spark.read.parquet(out).select("rank")
      .collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to docs.count()).toSeq)
  }

  test("ranks are contiguous 1..n and partitioning-invariant") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars")
    val cols = Seq(col("n_chars").desc, col("doc_id").asc)
    val r1 = GlobalRank.withGlobalRank(docs, cols)
    val r2 = GlobalRank.withGlobalRank(docs.repartition(17), cols)
    val ranks1 = r1.select("rank").collect().map(_.getLong(0)).sorted
    assert(ranks1.toSeq == (1L to docs.count()).toSeq)
    val m1 = r1.select("doc_id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = r2.select("doc_id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2)
  }

  test("interpolatedQuantiles matches hand math and the built-in percentile") {
    import spark.implicits._
    // group a: sorted (1,2,3,4,5) → p .5 = 3, p .25 = 2; group b: (10,20)
    // → p .75 = 10 + .75*10 = 17.5
    val df = (Seq((1, "a"), (4, "a"), (2, "a"), (5, "a"), (3, "a"),
      (20, "b"), (10, "b"))).zipWithIndex
      .map { case ((v, g), i) => (i.toLong, g, v) }
      .toDF("doc_id", "grp", "v")
    val got = GlobalRank.interpolatedQuantiles(df, Seq(0.25, 0.5, 0.75),
        group = "grp", value = "v", id = "doc_id")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got(("a", 0.5)) == 3.0 && got(("a", 0.25)) == 2.0)
    assert(got(("b", 0.75)) == 17.5)
    // cross-check vs Spark's exact percentile (same interpolation family)
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val mine = GlobalRank.interpolatedQuantiles(docs, Seq(0.1, 0.5, 0.9),
        group = "lang", value = "n_chars", id = "doc_id")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val builtin = docs.groupBy("lang")
      .agg(percentile(col("n_chars"), lit(Array(0.1, 0.5, 0.9))).as("q"))
      .collect().flatMap(r => Seq(0.1, 0.5, 0.9).zip(r.getSeq[Double](1))
        .map { case (p, v) => (r.getString(0), p) -> v }).toMap
    mine.foreach { case (k, v) => assert(math.abs(v - builtin(k)) < 1e-6, k) }
  }

  test("robustStats: hand-computed median/MAD/winsorized mean with an outlier") {
    import spark.implicits._
    // values 1..9 plus outlier 1000: median 5.5; p05 = 1.45, p95 = 554.05
    // → winsorized sum 1.45 + (2+..+9) + 554.05 = 599.5, mean 59.95;
    // |x−5.5| sorted gives MAD 2.5. The raw mean (105.4) is outlier-blown —
    // the robust profile is not.
    val df = ((1 to 9).map(_.toLong) :+ 1000L).zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }.toDF("doc_id", "grp", "v")
    val r = GlobalRank.robustStats(df, group = "grp", value = "v",
      id = "doc_id").head()
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 5.5)
    assert(r.getDouble(3) == 2.5)
    assert(r.getDouble(4) == 59.95)
  }

  test("interpolatedQuantiles: p=0 is min, p=1 is max, monotone in p") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val qs = GlobalRank.interpolatedQuantiles(docs,
        Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0),
        group = "lang", value = "n_chars", id = "doc_id")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    val ext = docs.groupBy("lang")
      .agg(min("n_chars").as("mn"), max("n_chars").as("mx")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1).toDouble, r.getLong(2).toDouble)))
      .toMap
    ext.foreach { case (lang, (mn, mx)) =>
      assert(qs((lang, 0.0)) == mn && qs((lang, 1.0)) == mx)
      val series = Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0).map(p => qs((lang, p)))
      assert(series == series.sorted, s"$lang quantiles not monotone")
    }
  }
}
