package graft.operators

import org.apache.spark.sql.functions._
import graft.{Scratch, SparkSpec, Tables}

/** Semantic checks for the tier-3 curation operators (q214–q218) —
  * the oracle gate proves Spark≡DuckDB; these prove the operators
  * mean what they claim on constructed inputs. */
class CurationQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("blog2 quantization equals floor(log2(k)) across the range") {
    val ks = (1L to 4096L) ++ Seq(1L << 40, (1L << 40) + 7, Long.MaxValue)
    val got = ks.toDF("k")
      .select((length(bin(col("k"))) - 1).cast("long")).as[Long].collect()
    val want = ks.map(k => 63 - java.lang.Long.numberOfLeadingZeros(k))
    assert(got.toSeq == want)
  }

  test("surprisal ranks a rare-token doc above a common-token doc") {
    // 9 docs of the common token, 1 doc of a rare one: the rare doc's
    // per-token information content must be strictly higher.
    val docs = ((0 to 8).map(i => (i.toLong, "the the the the")) :+
      (9L, "zyzzyva zyzzyva zyzzyva zyzzyva")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("t")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val cnt = tok.groupBy("term").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").as("n_tot"))
    val scored = tok.join(cnt, "term").crossJoin(broadcast(tot))
      .withColumn("surp", (length(bin(expr("n_tot div c"))) - 1).cast("long"))
      .groupBy("doc_id").agg(sum("surp").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scored(9L) > scored(0L))
    // common token: c=36, n=40 -> 40/36=1 -> 0 bits; rare: 40/4=10 -> 3 bits
    assert(scored(0L) == 0L && scored(9L) == 12L)
  }

  test("boilerplate strip removes EVERY occurrence of a repeated chunk") {
    // Two docs share their first 10-word chunk; each has a unique tail
    // chunk. q205-style keep-first would keep one copy of the shared
    // chunk — boilerplate strip must keep zero.
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, s"$shared alpha beta"),
      (1L, s"$shared gamma delta")).toDF("doc_id", "text")
    val q = CurationQueries.queries("q216_boilerplate_strip")
    val dir = Scratch.dir("boiler")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(0L) == (1L, "alpha beta"))
    assert(out(1L) == (1L, "gamma delta"))
  }

  test("novelty: an exact duplicate doc has zero novel shingles") {
    val text = (1 to 12).map(i => s"t$i").mkString(" ")
    val fresh = (1 to 12).map(i => s"u$i").mkString(" ")
    val docs = Seq((0L, text), (1L, text), (2L, fresh)).toDF("doc_id", "text")
    val dir = Scratch.dir("novel")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CurationQueries.queries("q217_novelty_score")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(0L)._2 == 1000L) // first seer: all shingles novel
    assert(out(1L) == (0L, 0L)) // exact dup: nothing novel
    assert(out(2L)._2 == 1000L) // disjoint vocabulary: all novel
  }

  test("budget select equals the brute-force greedy on live data") {
    val out = CurationQueries.queries("q220_token_budget_select")(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    // brute force: sort by (ttr desc, doc_id), take while cum <= 10%
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"),
        expr("(1000 * cast(size(array_distinct(split(text, ' '))) as bigint)) div size(split(text, ' '))").as("ttr"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val budget = docs.map(_._2).sum / 10
    var cum = 0L
    val want = docs.sortBy(t => (-t._3, t._1)).takeWhile { t =>
      cum += t._2; cum <= budget
    }.map(_._1).toSet
    assert(out == want)
    assert(want.nonEmpty)
  }

  test("shard assignment is the exact round-robin over the size rank") {
    val out = CurationQueries.queries("q221_balanced_shards")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.sortBy(t => (-t._2, t._1)).zipWithIndex
      .groupBy(_._2 % 8)
      .map { case (sh, xs) => sh.toLong -> (xs.size.toLong, xs.map(_._1._2).sum) }
    assert(out == want)
    // the balancer's purpose: shards within 20% of each other
    val tots = out.values.map(_._2)
    assert(tots.max < tots.min * 12 / 10)
  }

  test("maximal dup spans merge consecutive anchors with exact bounds") {
    // doc 0 and doc 1 share tokens 3..11 (9 tokens) of doc 0; doc 2 is
    // fully unique → no spans. The shared run begins at doc-0 token 3.
    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"a1 a2 $shared z1 z2"),
      (1L, s"b1 $shared c1 c2 c3"),
      (2L, (1 to 15).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val dir = Scratch.dir("spans")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CurationQueries.queries("q231_dup_spans_maximal")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 0: shared tokens occupy positions 3..11 → shingle starts 3..8,
    // span = [3, 8+3] = [3,11], 9 tokens; doc 1: positions 2..10 →
    // starts 2..7, span [2,10], 9 tokens
    assert(out.toSet == Set((0L, 3L, 11L, 9L), (1L, 2L, 10L, 9L)))
  }

  test("source drift is zero for a single-source corpus, positive when vocabularies split") {
    val dir1 = Scratch.dir("drift1")
    Seq((0L, "a b c", "en", "s0", 5L), (1L, "a b", "en", "s0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir1/documents.parquet")
    val one = CurationQueries.queries("q235_source_drift")(spark, dir1.toString)
      .collect()
    assert(one.length == 1 && one(0).getLong(2) == 0L)

    val dir2 = Scratch.dir("drift2")
    Seq((0L, "a a a a", "en", "s0", 7L), (1L, "b b b b", "en", "s1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val two = CurationQueries.queries("q235_source_drift")(spark, dir2.toString)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // each source over-represents its own token 2:1 vs the corpus:
    // c_s·N = 4·8 = 32, c·n_s = 4·4 = 16 → 1 bit per token → 4 per source
    assert(two("s0") == 4L && two("s1") == 4L)
  }

  test("split leakage equals the brute-force shingle check on live data") {
    val got = CurationQueries.queries("q236_split_leakage")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text",
        "cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint) % 100 AS b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length <= 4) Set(w.take(4).mkString(" "))
      else (0 to w.length - 4).map(i => w.slice(i, i + 4).mkString(" ")).toSet
    }
    val trainSh = docs.filter(_._3 < 80).flatMap(d => shingles(d._2)).toSet
    val want = docs.filter(_._3 >= 90)
      .map(d => d._1 -> shingles(d._2).count(trainSh))
      .filter(_._2 > 0).toMap
    assert(got == want.map { case (k, v) => k -> v.toLong })
    assert(got.nonEmpty)
  }

  test("dsir weight: target-slice docs outweigh off-target on live data") {
    // On the real table, English docs' bigrams dominate the target
    // counts, so the mean weight of 'en' docs must exceed the mean of
    // non-'en' docs (the operator's entire purpose).
    val out = CurationQueries.queries("q215_dsir_weight")(spark, sf)
      .groupBy((col("lang") === "en").as("is_en"))
      .agg((sum(col("weight")) / sum(col("n_feat"))).as("rate"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(out(true) > out(false))
  }
}
