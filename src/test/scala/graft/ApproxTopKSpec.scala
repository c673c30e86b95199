package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, SpaceSavingSketch}
import graft.operators.TextAnalysis
import graft.sources.Tables

class ApproxTopKSpec extends SparkSpecBase {

  test("sketch equals exact top-k when capacity exceeds the vocabulary") {
    val t = Tables(spark, sfDir)
    val exact = TextAnalysis.vocab(t).collect().map(r => (r.getString(0), r.getLong(1)))
    val sketch = TextAnalysis.vocabSketch(t).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sketch.sameElements(exact))
  }

  test("sketch finds the heavy hitters under eviction pressure (capacity < distinct keys)") {
    import spark.implicits._
    // zipf-ish: token_i appears ~ 10000/i times; 500 distinct, capacity 64
    val rows = (1 to 500).flatMap(i => Seq.fill(10000 / i)(s"tok$i"))
    val shuffled = new scala.util.Random(7).shuffle(rows)
    val df = shuffled.grouped(100).map(_.toArray).toSeq.toDF("toks")
      .repartition(8)
    val got = df.agg(GraftFunctions.approx_top_k_tokens(col("toks"), 10, 64).as("tk"))
      .select(explode(col("tk")).as("e")).select(col("e.token")).collect().map(_.getString(0))
    val expectedTop = (1 to 10).map(i => s"tok$i").toSet
    val hit = got.count(expectedTop.contains)
    assert(hit >= 8, s"only $hit/10 heavy hitters found: ${got.mkString(",")}")
  }

  test("sketch counts are within the SpaceSaving error bound on a single partition") {
    val sk = new SpaceSavingSketch(8)
    val stream = Seq.fill(100)("a") ++ Seq.fill(50)("b") ++ (1 to 40).map(i => s"rare$i")
    new scala.util.Random(3).shuffle(stream).foreach(sk.add(_))
    val top = sk.topK(2).toMap
    assert(top.contains("a") && top.contains("b"))
    // overestimate-only, bounded by n/capacity
    assert(top("a") >= 100 && top("a") <= 100 + stream.size / 8)
    assert(top("b") >= 50 && top("b") <= 50 + stream.size / 8)
  }

  test("merged partials keep the overestimate-only guarantee despite evictions") {
    val a = new SpaceSavingSketch(8)
    val b = new SpaceSavingSketch(8)
    // token "hot" heavy in A, evicted-from/absent-in B's capacity churn
    (1 to 200).foreach(_ => a.add("hot"))
    (1 to 30).foreach(i => a.add(s"fillerA$i"))
    (1 to 40).foreach(i => b.add(s"fillerB$i"))
    (1 to 50).foreach(_ => b.add("hot"))
    a.merge(b)
    val hot = a.topK(8).toMap.get("hot")
    assert(hot.isDefined, "heavy hitter must survive the merge")
    assert(hot.get >= 250, s"merged count ${hot.get} must not underestimate the true 250")
  }

  test("serialize/deserialize round-trips the sketch") {
    val agg = graft.functions.ApproxTopKTokens(
      org.apache.spark.sql.GraftSparkInterop.expression(lit(Array("x"))), 5, 16)
    val sk = new SpaceSavingSketch(16)
    Seq("a", "a", "b", "c").foreach(sk.add(_))
    val back = agg.deserialize(agg.serialize(sk))
    assert(back.capacity == 16)
    assert(back.topK(3) == sk.topK(3))
  }
}
