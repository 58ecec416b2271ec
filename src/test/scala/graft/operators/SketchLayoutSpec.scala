package graft.operators

import graft.{Scratch, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Count-Min (SketchQueries) and Z-order (LayoutQueries) properties
  * beyond their exact-match oracle rows. */
class SketchLayoutSpec extends SparkSpec {

  test("count-min never underestimates, for EVERY term, even when squeezed") {
    // a deliberately tiny sketch (width 8) forces collisions: the
    // never-under guarantee must hold while overcounts appear
    val tok = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val depth = 3; val width = 8
    def md5i(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    val keyed = tok.select(col("term"),
      explode(array((0 until depth).map { r =>
        struct(lit(r).as("r"),
          pmod(md5i(concat(lit(s"$r|"), col("term"))), lit(width)).as("b"))
      }: _*)).as("rb"))
      .select(col("term"), col("rb.r").as("r"), col("rb.b").as("b"))
    val cells = keyed.groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
    val est = keyed.distinct().join(cells, Seq("r", "b"))
      .groupBy(col("term")).agg(min(col("cnt")).as("est"))
    val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("exact"))
    val joined = est.join(exact, "term")
    assert(joined.filter(col("est") < col("exact")).count() == 0,
      "CMS must never underestimate")
    assert(joined.filter(col("est") > col("exact")).count() > 0,
      "width 8 over a real vocabulary must collide somewhere")
  }

  test("morton interleave matches a driver-local bit mirror") {
    def mortonLocal(x: Long, y: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    import spark.implicits._
    val probe = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L),
      (0L, 65535L), (65535L, 65535L), (12345L, 54321L), (40000L, 1L))
      .toDF("x", "y")
    // same fold LayoutQueries builds (private there; reproduced here
    // to pin the bit order contract: even bits = x, odd bits = y)
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(col("x"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(col("y"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    probe.withColumn("z", z).collect().foreach { r =>
      assert(r.getAs[Long]("z") ==
        mortonLocal(r.getAs[Long]("x"), r.getAs[Long]("y")))
    }
  }

  test("z-order buckets prune the probe rectangle; natural buckets cannot") {
    val out = LayoutQueries.queries("q300_zorder_layout")(spark, sf)
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("buckets"),
        sum(when(col("probe_overlap"), 1L).otherwise(0L)).as("hit"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nb, nh) = out("natural")
    val (zb, zh) = out("zorder")
    assert(nh == nb, "orderkey layout leaves every bucket full-range")
    assert(zh < zb / 2, s"z-order must prune over half the buckets ($zh/$zb)")
  }

  test("z-order parquet layout: the scan itself reads strictly fewer rows") {
    val base = Scratch.dir("zprunespec")
    val (natDir, zDir, plo, phi, slo, shi) =
      LayoutQueries.writeZorderLayouts(spark, sf, base.toString)
    // AQE off so executedPlan is the static plan the scan lives in
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanStats(path: String): (Long, String) = {
        val df = spark.read.parquet(path)
          .filter(col("l_partkey").between(plo, phi) &&
                  col("l_suppkey").between(slo, shi))
        df.collect()
        val scan = df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head
        (scan.metrics("numOutputRows").value,
          scan.metadata.getOrElse("PushedFilters", ""))
      }
      val (natRows, natPushed) = scanStats(natDir)
      val (zRows, zPushed) = scanStats(zDir)
      // the rectangle predicates must reach the parquet reader —
      // that's what lets footer min/max stats skip row groups
      Seq(natPushed, zPushed).foreach { p =>
        assert(p.contains("GreaterThanOrEqual(l_partkey") &&
               p.contains("LessThanOrEqual(l_suppkey"),
          s"rectangle must be pushed to the scan: $p")
      }
      assert(zRows > 0, "probe rectangle must be non-empty")
      // natural layout: every file spans the full key domain, nothing
      // prunes; z-order: only row groups whose footer box overlaps
      // the rectangle are read at all
      assert(zRows * 2 < natRows,
        s"z-ordered scan must read under half the rows: z=$zRows nat=$natRows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("incremental OPTIMIZE: base files untouched, delta pruned after") {
    import graft.sources.ManifestTable
    val tmp = Scratch.dir("zoptspec")
    val (dir, plo, phi, slo, shi) =
      LayoutQueries.writeOptimizeTable(spark, sf, tmp.toString)
    val baseFiles = ManifestTable.files(dir, 0).toSet
    val deltaFiles = LayoutQueries.deltaFilesOf(dir)
    assert(deltaFiles.nonEmpty && baseFiles.nonEmpty)
    def sizes(names: Set[String]): Map[String, Long] = names.map { n =>
      n -> java.nio.file.Files.size(java.nio.file.Paths.get(dir, n)) }.toMap
    val baseSizesBefore = sizes(baseFiles)
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanRows(v: Long): Long = {
        val df = ManifestTable.readVersion(spark, dir, v)
          .filter(col("l_partkey").between(plo, phi) &&
                  col("l_suppkey").between(slo, shi))
        df.collect()
        df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head.metrics("numOutputRows").value
      }
      val preRows = scanRows(1)
      ManifestTable.optimize(spark, dir, deltaFiles, col("zkey"), 4)
      // compaction is incremental: every base file byte-identical in
      // place, every unsorted delta file dereferenced (still on disk
      // until vacuum — time travel to v1 stays valid)
      assert(sizes(baseFiles) == baseSizesBefore,
        "OPTIMIZE must not rewrite base files")
      val cur = ManifestTable.files(dir, ManifestTable.currentVersion(dir))
      assert(deltaFiles.forall(!cur.contains(_)),
        "unsorted delta files must be out of the committed snapshot")
      assert(baseFiles.forall(cur.contains),
        "base files must carry over into the new snapshot")
      // and the same probe now reads strictly fewer rows: the delta's
      // row groups carry tight footer boxes after the rewrite
      val postRows = scanRows(2)
      assert(postRows < preRows,
        s"post-OPTIMIZE scan must prune the delta: pre=$preRows post=$postRows")
      // vacuum drops the dereferenced delta files from disk
      ManifestTable.vacuum(dir, keepVersions = 1, retainMillis = 0)
      assert(deltaFiles.forall(n =>
        !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, n))),
        "vacuum must delete the rewritten delta files")
      assert(scanRows(2) == postRows, "reader unaffected by vacuum")
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("bucketed join: the join itself carries no exchange") {
    val df = LayoutQueries.queries("q306_bucketed_join")(spark, sf)
    df.collect() // run so AQE finalizes the executed plan
    // final AQE plan only (toString repeats the pre-AQE initial plan)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), "must sort-merge, not broadcast")
    assert("Bucketed: true".r.findAllIn(plan).length == 2,
      "both scans must read their buckets directly")
    // exactly two exchanges: post-join reaggregation + final orderBy;
    // the join itself reads bucket i vs bucket i with NO shuffle
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"expected 2 exchanges (agg + sort only), got $exchanges:\n$plan")
  }

  test("hll cube: merged rollup equals the direct whole-corpus sketch") {
    import org.apache.spark.sql.functions.expr
    val tok = graft.Tables.documents(spark, sf)
      .select(col("source"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val direct = tok.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(w))")).head().getLong(0)
    val merged = tok.groupBy(col("source"), col("lang"))
      .agg(expr("hll_sketch_agg(w)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head().getLong(0)
    assert(direct == merged,
      "sketch union must be lossless vs the one-shot sketch")
  }

  test("entropy gate: repeated text scores below varied text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a a a a a a a a a a a a a"),
      (2L, "the quick brown fox jumps over lazy dogs tonight"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("__ent_docs")
    val counted = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("sym"))
      .groupBy(col("doc_id"), col("sym")).agg(count(lit(1)).as("c"))
    val n = sum(col("c")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id")))
    val h = counted
      .withColumn("contrib",
        round(lit(1e6) * (col("c") / n) * log(n / col("c"))).cast("long"))
      .groupBy(col("doc_id")).agg(sum(col("contrib")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) < h(2L), s"repetition must score lower: $h")
    assert(h(1L) < 1000000L, "near-degenerate text is below 1 nat")
  }
}
