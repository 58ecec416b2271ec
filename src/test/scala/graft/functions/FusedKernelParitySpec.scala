package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bit-exactness pins for the fused kernels: each fused expression
  * is compared row-for-row against the exact column composition it
  * replaced, over the REAL test corpus (not synthetic rows), so the
  * accumulation order, StrictMath.log, HALF_UP rounding and argmin tie
  * rules are all exercised on production-shaped data. */
class FusedKernelParitySpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)
  private def asD(a: Column) = a.cast("array<double>")
  private def vecLit(v: Array[Double]) = array(v.toIndexedSeq.map(lit(_)): _*)
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** The first `n` embeddings by id, widened to double. */
  private def firstVecs(n: Int): Array[Array[Double]] =
    emb.orderBy(col("vec_id")).limit(n).select(asD(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray)

  /** `exp` and `got` hold the same non-empty rows in the same order. */
  private def sameRows(exp: DataFrame, got: DataFrame): Unit = {
    val e = exp.collect(); val g = got.collect()
    assert(e.length == g.length && e.length > 0)
    e.zip(g).foreach { case (a, b) => assert(a == b) }
  }

  test("symbol_entropy matches the explode→groupBy→window composition") {
    def composed(sym: Column) = {
      val counted = docs
        .select(col("doc_id"), explode(sym).as("sym"))
        .groupBy(col("doc_id"), col("sym"))
        .agg(count(lit(1)).as("c"))
      val n = sum(col("c")).over(Window.partitionBy(col("doc_id")))
      counted
        .withColumn("contrib",
          round(lit(1e6) * (col("c") / n) * log(n / col("c"))).cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib")).as("h_micro"),
          count(lit(1)).as("n_distinct"))
    }
    def fused(sym: Column) = docs
      .select(col("doc_id"), GraftFunctions.symbol_entropy(sym).as("e"))
      .select(col("doc_id"), col("e.h_micro").as("h_micro"),
        col("e.n_distinct").as("n_distinct"))
    for (sym <- Seq(split(col("text"), ""),
        filter(split(col("text"), " "), w => length(w) > 0))) {
      val exp = composed(sym).orderBy(col("doc_id")).collect()
      val got = fused(sym).orderBy(col("doc_id")).collect()
      assert(exp.length == got.length)
      exp.zip(got).foreach { case (a, b) => assert(a == b) }
    }
  }

  test("symbol_entropy of an empty array is (0, 0); null array is null") {
    val s2 = spark; import s2.implicits._
    val r = Seq(Seq.empty[String]).toDF("a")
      .select(GraftFunctions.symbol_entropy(col("a")).as("e"))
      .select(col("e.h_micro"), col("e.n_distinct")).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    val n = Seq((1, null: Seq[String])).toDF("i", "a")
      .select(GraftFunctions.symbol_entropy(col("a")).as("e")).head()
    assert(n.isNullAt(0))
  }

  test("pq_lut + column round matches the literal aggregate(zip_with) LUT") {
    val M = 8; val dsub = 8; val K = 16
    val e = Tables.embeddings(spark, sf)
    val seeds = e.orderBy(col("vec_id")).limit(K)
      .select(asD(col("embedding")).as("de")).collect()
      .map(_.getSeq[Double](0).toArray)
    val cb = Array.tabulate(M, K)((m, k) =>
      seeds(k).slice(m * dsub, (m + 1) * dsub))
    val cbNorm = Array.tabulate(M, K)((m, k) =>
      math.round(cb(m)(k).foldLeft(0.0)((a, x) => a + x * x) * 1e6))
    def subCol(v: Column, m: Int) = slice(v, m * dsub + 1, dsub)
    def cwLit(m: Int, k: Int) = array(cb(m)(k).toIndexedSeq.map(lit(_)): _*)
    val lutRows = for (m <- 0 until M; k <- 0 until K) yield
      struct(lit(m).as("m"), lit(k).as("k"),
        round(hofDot(subCol(col("pe"), m), cwLit(m, k)) * 1e6)
          .cast("long").as("pdot"),
        lit(cbNorm(m)(k)).as("cn"))
    val base = e.select(col("vec_id").as("pid"), asD(col("embedding")).as("pe"))
    val exp = base.select(col("pid"), explode(array(lutRows: _*)).as("x"))
      .select(col("pid"), col("x.m"), col("x.k"), col("x.pdot"), col("x.cn"))
      .orderBy(col("pid"), col("m"), col("k")).collect()
    val got = base.select(col("pid"),
        explode(GraftFunctions.pq_lut(col("pe"), cb, cbNorm)).as("x"))
      .select(col("pid"), col("x.m"), col("x.k"),
        round(col("x.dot") * 1e6).cast("long").as("pdot"), col("x.cn"))
      .orderBy(col("pid"), col("m"), col("k")).collect()
    assert(exp.length == got.length && exp.length > 0)
    exp.zip(got).foreach { case (a, b) => assert(a == b) }
  }

  test("pq_encode_residual matches pq_encode over the zip_with residual") {
    val M = 8; val dsub = 8; val K = 16
    val e = Tables.embeddings(spark, sf)
    val seeds = e.orderBy(col("vec_id")).limit(K)
      .select(asD(col("embedding")).as("de")).collect()
      .map(_.getSeq[Double](0).toArray)
    val cents = seeds.take(8)
    val cb = Array.tabulate(M, K)((m, k) =>
      seeds(k).slice(m * dsub, (m + 1) * dsub))
    val centsLit = array(cents.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit(_)): _*)): _*)
    val assigned = e.select(col("vec_id"), asD(col("embedding")).as("de"))
      .withColumn("cluster",
        GraftFunctions.nearest_centroid(col("de"), cents))
    val exp = assigned.select(col("vec_id"),
        GraftFunctions.pq_encode(
          zip_with(col("de"), element_at(centsLit, col("cluster") + 1),
            (a, b) => a - b), cb).as("codes"))
      .orderBy(col("vec_id")).collect()
    val got = assigned.select(col("vec_id"),
        GraftFunctions.pq_encode_residual(col("de"), col("cluster"),
          cents, cb).as("codes"))
      .orderBy(col("vec_id")).collect()
    assert(exp.length == got.length && exp.length > 0)
    exp.zip(got).foreach { case (a, b) => assert(a == b) }
  }

  test("bpe_apply_merges matches the nested array-fold fusion") {
    def bpeChars(w: Column): Column =
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    def foldFuse(toksCol: Column, a: String, b: String): Column =
      aggregate(
        sequence(lit(1), size(toksCol)),
        struct(array().cast("array<string>").as("out"), lit(1).as("nexti")),
        (acc, i) =>
          when(i < acc.getField("nexti"), acc)
            .when(i < size(toksCol) &&
                element_at(toksCol, i) === a &&
                element_at(toksCol, i + 1) === b,
              struct(array_append(acc.getField("out"), lit(a + b)).as("out"),
                (i + 2).as("nexti")))
            .otherwise(
              struct(array_append(acc.getField("out"),
                element_at(toksCol, i)).as("out"), (i + 1).as("nexti"))),
        acc => acc.getField("out"))
    // ranks that cascade (th + e → the) exercise strict rank ordering
    val merges = Array(("t", "h"), ("th", "e"), ("e", "r"))
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("toks", bpeChars(col("w")))
    val exp = merges.foldLeft(vocab) { case (df, (a, b)) =>
        df.withColumn("toks", foldFuse(col("toks"), a, b))
      }.select(col("w"), col("toks")).orderBy(col("w")).collect()
    val got = vocab.withColumn("toks",
        GraftFunctions.bpe_apply_merges(col("toks"), merges))
      .select(col("w"), col("toks")).orderBy(col("w")).collect()
    assert(exp.length == got.length && exp.length > 0)
    exp.zip(got).foreach { case (a, b) => assert(a == b) }
  }

  test("centroid_dots matches the per-centroid aggregate(zip_with) dot") {
    val e = Tables.embeddings(spark, sf)
    val cents = e.orderBy(col("vec_id")).limit(8)
      .select(asD(col("embedding")).as("de")).collect()
      .map(_.getSeq[Double](0).toArray)
    val centsLit = array(cents.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit(_)): _*)): _*)
    val base = e.select(col("vec_id"), asD(col("embedding")).as("pe"))
      .crossJoin(spark.range(8).select(col("id").cast("int").as("j")))
    val exp = base.select(col("vec_id"), col("j"),
        round(hofDot(col("pe"), element_at(centsLit, col("j") + 1)) * 1e6)
          .cast("long").as("d"))
      .orderBy(col("vec_id"), col("j")).collect()
    val got = base.select(col("vec_id"), col("j"),
        round(element_at(GraftFunctions.centroid_dots(col("pe"), cents),
          col("j") + 1) * 1e6).cast("long").as("d"))
      .orderBy(col("vec_id"), col("j")).collect()
    assert(exp.length == got.length && exp.length > 0)
    exp.zip(got).foreach { case (a, b) => assert(a == b) }
  }

  test("gram_moments matches the posexplode/explode → groupBy compositions") {
    import graft.operators.VectorQueries
    val codes = VectorQueries.gridCodes(Tables.embeddings(spark, sf))
    // the diagonal composition gaussianMoments ran before the kernel
    val st = codes.select(posexplode(col("xs")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("qx"))
      .orderBy(col("d")).collect()
    val pg = VectorQueries.gram(codes, pairs = true)
    val dg = VectorQueries.gram(codes, pairs = false)
    assert(st.length == 64 && pg.sx.length == 64 && dg.sxy == null)
    for (g <- Seq(pg, dg)) {
      assert(st.forall(_.getLong(1) == g.n))
      assert(st.map(_.getLong(2)).sameElements(g.sx))
      assert(st.map(_.getLong(3)).sameElements(g.qx))
    }
    // q262's centered pair sums against the nested-transform explode
    // → groupBy(di, dj) composition it ran before the kernel
    val m = VectorQueries.gaussianMoments(codes)
    val muLit = array(m.mu.toIndexedSeq.map(lit(_)): _*)
    val cxs = transform(col("xs"),
      (x, i) => x - element_at(muLit, (i + 1).cast("int")))
    val exp = codes
      .select(explode(flatten(transform(cxs, (x, i) =>
        transform(slice(cxs, i + lit(2), lit(64)), (y, j) =>
          struct(i.cast("int").as("di"), (i + 1 + j).cast("int").as("dj"),
            (x * y).as("p")))))).as("pr"))
      .groupBy(col("pr.di").as("di"), col("pr.dj").as("dj"))
      .agg(sum(col("pr.p")).as("sxy"))
      .orderBy(col("di"), col("dj")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val got = VectorQueries.centeredPairs(pg, m.mu)
    assert(exp.length == 64 * 63 / 2 && exp.sameElements(got))
    val pm = VectorQueries.momentsOf(pg)
    assert(pm.n == m.n && pm.mu.sameElements(m.mu) &&
      pm.vr.sameElements(m.vr) && pm.ssd.sameElements(m.ssd))
  }

  test("gram_moments contract: skips null rows, fails loudly otherwise") {
    import graft.operators.VectorQueries
    val s2 = spark; import s2.implicits._
    def gramOf(rows: Seq[Seq[Long]], pairs: Boolean) =
      VectorQueries.gram(rows.toDF("xs"), pairs)
    def failsWith[T <: Throwable](msg: String)(f: => Any)(
        implicit ct: scala.reflect.ClassTag[T]): Unit = {
      val t = intercept[Throwable](f)
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => ct.runtimeClass.isInstance(c) &&
        String.valueOf(c.getMessage).contains(msg)), s"got $t")
    }

    // a null array row is skipped, as posexplode skips it
    val g = gramOf(Seq(Seq(1L, 2L), null, Seq(3L, 4L)), pairs = true)
    assert(g.n == 2 && g.sx.sameElements(Seq(4L, 6L)) &&
      g.qx.sameElements(Seq(10L, 20L)) && g.sxy.sameElements(Seq(14L)))

    // ragged width: across partitions (merge) and inside one (update)
    val ragged = Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)).toDF("xs")
    failsWith[IllegalArgumentException]("width")(
      VectorQueries.gram(ragged, pairs = false))
    failsWith[IllegalArgumentException]("width")(
      VectorQueries.gram(ragged.coalesce(1), pairs = false))

    // width caps: 65,536 dims diagonal, 512 with pairs
    failsWith[IllegalArgumentException]("exceeds the 65536-dimension cap")(
      gramOf(Seq(Seq.fill(65537)(1L)), pairs = false))
    failsWith[IllegalArgumentException]("exceeds the 512-dimension cap")(
      gramOf(Seq(Seq.fill(513)(1L)), pairs = true))
    assert(gramOf(Seq(Seq.fill(513)(1L)), pairs = false).n == 1)

    // a null element throws
    failsWith[IllegalArgumentException]("null element")(
      VectorQueries.gram(Seq(Seq(Some(1L), None)).toDF("xs"), pairs = false))

    // overflow throws instead of wrapping: a square, a pair product,
    // and a sum across rows
    failsWith[ArithmeticException]("overflow")(
      gramOf(Seq(Seq(1L << 32)), pairs = false))
    failsWith[ArithmeticException]("overflow")(
      gramOf(Seq(Seq(1L << 31, 1L << 31), Seq(1L << 31, 1L << 31)), pairs = true))
    failsWith[ArithmeticException]("overflow")(
      gramOf(Seq.fill(3)(Seq(3000000000L)), pairs = false))

    // empty input (no rows, or only null rows) fails by name
    failsWith[IllegalArgumentException]("empty input")(
      VectorQueries.gaussianMoments(Seq.empty[Seq[Long]].toDF("xs")))
    failsWith[IllegalArgumentException]("empty input")(
      VectorQueries.gaussianMoments(Seq(null: Seq[Long]).toDF("xs")))
  }

  // ---- the r12 kernels (pq_encode, cosine_similarity, nearest_centroid,
  // ranked_centroids) against the compositions they replaced

  test("pq_encode matches the aggregate(zip_with) L2 argmin over struct(d, k)") {
    val M = 8; val dsub = 8; val K = 16
    val seeds = firstVecs(K)
    val cb = Array.tabulate(M, K)((m, k) =>
      seeds(k).slice(m * dsub, (m + 1) * dsub))
    def l2(sub: Column, cw: Array[Double]): Column =
      aggregate(zip_with(sub, vecLit(cw), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val composed = array((0 until M).map(m =>
      array_min(array((0 until K).map(k =>
        struct(l2(slice(col("de"), m * dsub + 1, dsub), cb(m)(k)).as("d"),
          lit(k).as("k"))): _*)).getField("k")): _*)
    val base = emb.select(col("vec_id"), col("embedding"),
      asD(col("embedding")).as("de"))
    val exp = base.select(col("vec_id"), composed.as("codes"))
      .orderBy(col("vec_id"))
    // the float input and its double widening encode alike
    for (v <- Seq(col("embedding"), col("de")))
      sameRows(exp, base.select(col("vec_id"),
        GraftFunctions.pq_encode(v, cb).as("codes")).orderBy(col("vec_id")))
  }

  test("cosine_similarity matches the aggregate(zip_with) dot over the norms") {
    val pairs = emb.filter(col("vec_id") <= 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
      .crossJoin(emb.select(col("vec_id").as("cid"), col("embedding").as("ce")))
    val (pd, cd) = (asD(col("pe")), asD(col("ce")))
    def sims(s: Column) =
      pairs.select(col("pid"), col("cid"), s.as("s"))
        .orderBy(col("pid"), col("cid"))
    val exp = sims(hofDot(pd, cd) / (sqrt(hofDot(pd, pd)) * sqrt(hofDot(cd, cd))))
    for ((a, b) <- Seq((col("pe"), col("ce")), (pd, cd)))
      sameRows(exp, sims(GraftFunctions.cosine_similarity(a, b)))
  }

  /** The struct-literal form the coarse quantizer used: (cosine against
    * centroid i, −i) per centroid. */
  private def scored(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(GraftFunctions.cosine_similarity(v, vecLit(c)).as("sim"),
        lit(-i).as("negIdx"))
    }: _*)

  test("nearest_centroid matches -array_max(struct(cosine, -i)).negIdx") {
    val cents = firstVecs(8)
    def of(c: Column) =
      emb.select(col("vec_id"), c.as("c")).orderBy(col("vec_id"))
    sameRows(of(-array_max(scored(col("embedding"), cents)).getField("negIdx")),
      of(GraftFunctions.nearest_centroid(col("embedding"), cents)))
  }

  test("ranked_centroids matches reverse(array_sort(struct(cosine, -i)))") {
    val cents = firstVecs(8)
    def of(c: Column) =
      emb.select(col("vec_id"), c.as("r")).orderBy(col("vec_id"))
    sameRows(of(transform(reverse(array_sort(scored(col("embedding"), cents))),
        s => -s.getField("negIdx"))),
      of(GraftFunctions.ranked_centroids(col("embedding"), cents)))
  }
}
