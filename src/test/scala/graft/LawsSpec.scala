package graft

import graft.cube.{Cube, Dim}
import graft.ops.{Crs, Filters, Geo, Joins}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Property-based algebraic laws over randomly generated cubes/inputs
  * (SURVEY.md §5 item 4). Deterministic: every Gen is sampled from a fixed
  * seed so failures reproduce. */
class LawsSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] = {
    val p = Gen.Parameters.default
    Iterator.iterate(rng.Seed(seed))(_.next)
      .map(s => g.apply(p, s)).flatten.take(n).toSeq
  }

  private val cellGen: Gen[(Int, String, Int, Int, Double)] = for {
    day  <- Gen.choose(1, 9)
    band <- Gen.oneOf("B04", "B08")
    y    <- Gen.choose(0, 3)
    x    <- Gen.choose(0, 3)
    v    <- Gen.choose(1.0, 1000.0)
  } yield (day, band, y, x, v)

  private def randomCube(seed: Long, n: Int = 40): Cube = {
    val cells = sample(cellGen, n, seed)
      .groupBy(c => (c._1, c._2, c._3, c._4)).map(_._2.head).toSeq // unique keys
    cubeOf(cells.map { case (d, b, y, x, v) =>
      (f"2024-01-0$d", b, y.toDouble, x.toDouble, v) }: _*)
  }

  test("law: normalized_difference of positive bands lies in [-1, 1]") {
    for (seed <- 1L to 5L) {
      val wide = randomCube(seed).wide
      val nd = wide.where(col("B04").isNotNull && col("B08").isNotNull)
        .select(((col("B08") - col("B04")) / (col("B08") + col("B04"))).as("nd"))
        .collect().map(_.getDouble(0))
      nd.foreach { v => v should (be >= -1.0 and be <= 1.0) }
    }
  }

  test("law: wide with a known bandOrder starts no job and equals the " +
      "explicit pivot; without one it pivots the distinct bands") {
    for (seed <- 1L to 3L) {
      val c = randomCube(seed)
      val keys = c.dimsExcept(Dim.Band).map(col)
      val (wide, jobs) = jobsDuring(c.wide)
      jobs shouldBe 0
      val explicit = c.df.groupBy(keys: _*).pivot(Dim.Band, c.meta.bandOrder)
        .agg(first(col(Cube.ValueCol), ignoreNulls = true))
      wide.columns shouldBe explicit.columns
      rowSet(wide) shouldBe rowSet(explicit)
      val inferred = c.copy(meta = c.meta.copy(bandOrder = Nil)).wide
      inferred.columns.toSeq shouldBe
        c.dimsExcept(Dim.Band) ++ c.meta.bandOrder.sorted
      rowSet(inferred.select(wide.columns.map(col): _*)) shouldBe rowSet(wide)
    }
  }

  test("law: mask is idempotent (mask∘mask = mask)") {
    for (seed <- 1L to 3L) {
      val c = randomCube(seed)
      val m = Cube(
        c.df.where(col(Dim.Band) === "B04")
          .withColumn(Cube.ValueCol,
            when(col(Cube.ValueCol) > 500.0, 1.0).otherwise(0.0)),
        c.meta.copy(bandOrder = Seq("B04")))
      val once = Filters.mask(c, m)
      val twice = Filters.mask(once, m)
      rowSet(twice.df) shouldBe rowSet(once.df)
    }
  }

  test("law: merge_cubes with disjoint bands concatenates exactly") {
    for (seed <- 1L to 3L) {
      val a0 = randomCube(seed)
      val a = Cube(a0.df.where(col(Dim.Band) === "B04"),
        a0.meta.copy(bandOrder = Seq("B04")))
      val b = Cube(
        a0.df.where(col(Dim.Band) === "B08")
          .withColumn(Dim.Band, lit("B11")),
        a0.meta.copy(bandOrder = Seq("B11")))
      val r = Joins.mergeCubes(a, b)
      r.df.count() shouldBe a.df.count() + b.df.count()
      r.meta.bandOrder shouldBe Seq("B04", "B11")
    }
  }

  test("law: nearest regrid onto the cube's own grid is the identity") {
    for (seed <- 1L to 3L) {
      val c = randomCube(seed)
      val r = Joins.resampleCubeSpatialNearest(c, c.meta.requireGrid)
      rowSet(r.df.select("time", "band", "y", "x", "value")) shouldBe
        rowSet(c.df.select("time", "band", "y", "x", "value"))
    }
  }

  test("law: per-group min <= mean <= max reducers") {
    for (seed <- 1L to 3L) {
      val c = randomCube(seed)
      val mins = graft.ops.Reducers.reduceDimension(c, "time", "min").df
        .withColumnRenamed("value", "lo")
      val means = graft.ops.Reducers.reduceDimension(c, "time", "mean").df
        .withColumnRenamed("value", "mid")
      val maxs = graft.ops.Reducers.reduceDimension(c, "time", "max").df
        .withColumnRenamed("value", "hi")
      val joined = mins.join(means, Seq("band", "y", "x"))
        .join(maxs, Seq("band", "y", "x"))
      joined.where(col("lo") > col("mid") + 1e-9 ||
        col("mid") > col("hi") + 1e-9).count() shouldBe 0
    }
  }

  test("law: TopKAgg equals the window-rank formulation on random scores") {
    val pairGen = for {
      q <- Gen.choose(0L, 3L)
      n <- Gen.choose(0L, 200L)
      v <- Gen.frequency( // ties at 0.25/0.5 exercise id tiebreaks; NaN
        // exercises the Double.compare (NaN greatest) ordering parity
        6 -> Gen.choose(-1.0, 1.0), 2 -> Gen.oneOf(0.25, 0.5),
        1 -> Gen.const(Double.NaN))
    } yield (q, n, v)
    for (seed <- 1L to 3L) {
      val rows = sample(pairGen, 300, seed)
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (q, id)
      val df = rows.toDF("query_id", "neighbor_id", "cos")
      val agg = df.groupBy("query_id")
        .agg(graft.functions.TopKAgg.topK(5)(col("neighbor_id"), col("cos")).as("t"))
        .select(col("query_id"), posexplode(col("t")).as(Seq("p", "s")))
        .select(col("query_id"), (col("p") + 1).as("rank"),
          col("s.id").as("neighbor_id"), col("s.cos").as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      val win = df.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cos")
      // NaN != NaN breaks Scala row equality; sentinel-replace for compare
      def norm(d: org.apache.spark.sql.DataFrame) =
        rowSet(d.withColumn("cos", nanvl(col("cos"), lit(-999.0))))
      norm(agg) shouldBe norm(win)
    }
  }

  test("law: jaccard is symmetric, bounded, and 1 on identical sets") {
    val arrGen = Gen.listOfN(8, Gen.choose(1L, 12L))
    val pairs = sample(Gen.zip(arrGen, arrGen), 25)
    val df = pairs.map { case (a, b) => (a, b) }.toDF("a", "b")
    val r = df.select(
      graft.text.Dedup.jaccard(col("a"), col("b")).as("ab"),
      graft.text.Dedup.jaccard(col("b"), col("a")).as("ba"),
      graft.text.Dedup.jaccard(col("a"), col("a")).as("aa"))
      .collect()
    r.foreach { row =>
      row.getDouble(0) shouldBe row.getDouble(1) +- 1e-12
      row.getDouble(0) should (be >= 0.0 and be <= 1.0)
      row.getDouble(2) shouldBe 1.0
    }
  }

  test("law: UdfCompiler parses random expression trees to equal plans") {
    sealed trait E
    case object X extends E
    final case class Num(v: Double) extends E
    final case class Bin(op: String, l: E, r: E) extends E
    final case class Fn(name: String, a: E) extends E
    def genE(depth: Int): Gen[E] =
      if (depth == 0) Gen.oneOf(Gen.const(X), Gen.choose(-5.0, 5.0).map(Num.apply))
      else Gen.frequency(
        2 -> Gen.const(X),
        1 -> Gen.choose(-5.0, 5.0).map(Num.apply),
        3 -> (for {
          op <- Gen.oneOf("+", "-", "*")
          l <- genE(depth - 1); r <- genE(depth - 1)
        } yield Bin(op, l, r)),
        2 -> (for {
          f <- Gen.oneOf("abs", "sin", "cos")
          a <- genE(depth - 1)
        } yield Fn(f, a)))
    def render(e: E): String = e match {
      case X => "x"
      case Num(v) => if (v < 0) s"($v)" else v.toString
      case Bin(op, l, r) => s"(${render(l)} $op ${render(r)})"
      case Fn(f, a) => s"$f(${render(a)})"
    }
    def direct(e: E, x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      e match {
        case X => x
        case Num(v) => lit(v)
        case Bin("+", l, r) => direct(l, x) + direct(r, x)
        case Bin("-", l, r) => direct(l, x) - direct(r, x)
        case Bin(_, l, r) => direct(l, x) * direct(r, x)
        case Fn("abs", a) => abs(direct(a, x))
        case Fn("sin", a) => sin(direct(a, x))
        case Fn(_, a) => cos(direct(a, x))
      }
    val df = Seq(-2.5, 0.0, 1.75, 9.0).toDF("v")
    sample(genE(3), 30).foreach { e =>
      val src = s"function(x, context) { ${render(e)} }"
      val got = df.select(
        graft.compile.UdfCompiler.compile(src, col("v")).as("a"),
        direct(e, col("v")).as("b")).collect()
      got.foreach { r =>
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
          s"mismatch for '$src'")
      }
    }
  }

  test("law: native hashed-shingle jaccard equals the HOF string-shingle jaccard") {
    val word = Gen.oneOf("the", "cat", "sat", "on", "a", "mat", "dog",
      "ran", "fast", "x1", "über", "日本")
    val doc = Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val pairs = sample(Gen.zip(doc, doc), 40)
    val df = pairs.toDF("a", "b")
    val r = df.select(
      graft.text.Dedup.jaccardLong(
        graft.functions.TextHashExprs.shingleHashes(lower(trim(col("a"))), 3),
        graft.functions.TextHashExprs.shingleHashes(lower(trim(col("b"))), 3))
        .as("native"),
      graft.text.Dedup.jaccard(
        graft.text.TextAnalysis.shingles(col("a"), 3),
        graft.text.TextAnalysis.shingles(col("b"), 3)).as("hof"))
      .collect()
    r.foreach(row => row.getDouble(0) shouldBe row.getDouble(1) +- 1e-12)
  }

  test("law: sampleFraction is nested — a smaller fraction is a subset of a larger") {
    import graft.text.Sampling
    val ids = sample(Gen.choose(0L, 1000000L), 300, 7L).distinct
    val df = ids.toDF("doc_id")
    val keep = Seq(0.05, 0.2, 0.5, 0.9).map { f =>
      f -> Sampling.sampleFraction(df, "doc_id", f)
        .collect().map(_.getLong(0)).toSet
    }
    keep.sliding(2).foreach { case Seq((f1, s1), (f2, s2)) =>
      withClue(s"fraction $f1 ⊆ $f2: ") { s1.subsetOf(s2) shouldBe true }
    }
  }

  test("law: packByBudget partitions each stratum — weights and rows preserved, pack ids dense") {
    import graft.text.Packing
    val rows = sample(for {
      id <- Gen.choose(0L, 100000L)
      lang <- Gen.oneOf("en", "de", "fr")
      w <- Gen.choose(1L, 900L)
    } yield (id, lang, w), 200, 11L)
      .groupBy(_._1).map(_._2.head).toSeq // unique ids
    val df = rows.toDF("doc_id", "lang", "w")
    val out = Packing.packByBudget(df, Seq("lang"), "doc_id", "w", 1000L)
    out.count() shouldBe rows.length // packing assigns, never drops
    out.agg(sum("w")).head().getLong(0) shouldBe rows.map(_._3).sum
    // pack ordinals are dense from 0 per stratum (contiguous fill)
    out.groupBy("lang").agg(
        min("pack_id").as("lo"), max("pack_id").as("hi"),
        countDistinct("pack_id").as("n"))
      .collect().foreach { r =>
        r.getAs[Long]("lo") shouldBe 0
        r.getAs[Long]("n") shouldBe r.getAs[Long]("hi") + 1
      }
  }

  test("law: UTM and LAEA roundtrip over the projection's valid domain") {
    val utmPt = Gen.zip(Gen.choose(6.5, 11.5), Gen.choose(-75.0, 80.0))
    sample(utmPt, 40).foreach { case (lon, lat) =>
      val (x, y) = Crs.transformPoint(lon, lat, 4326, 32632)
      val (lo2, la2) = Crs.transformPoint(x, y, 32632, 4326)
      lo2 shouldBe lon +- 1e-7
      la2 shouldBe lat +- 1e-7
    }
    val laeaPt = Gen.zip(Gen.choose(-10.0, 30.0), Gen.choose(35.0, 70.0))
    sample(laeaPt, 40).foreach { case (lon, lat) =>
      val (x, y) = Crs.transformPoint(lon, lat, 4326, 3035)
      val (lo2, la2) = Crs.transformPoint(x, y, 3035, 4326)
      lo2 shouldBe lon +- 1e-8
      la2 shouldBe lat +- 1e-8
    }
  }

  private val docGen: Gen[String] = for {
    n  <- Gen.choose(1, 30)
    ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
  } yield ws.mkString(" ")

  test("law: repetition signals are bounded and self-consistent") {
    val docs = sample(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    graft.text.TextAnalysis.repetitionSignals(docs, "text", "doc_id")
      .collect().foreach { r =>
        val n = r.getInt(1)
        val ratio = r.getDouble(2); val run = r.getLong(3)
        val bg = r.getDouble(4); val tg = r.getDouble(5)
        assert(n >= 1)
        assert(ratio > 0.0 && ratio <= 1.0)
        assert(run >= 1 && run <= n)
        // a token run of length r contributes r-1 equal bigrams
        if (n >= 2) assert(bg > 0.0 && bg <= 1.0) else assert(bg == 0.0)
        if (n >= 3) assert(tg > 0.0 && tg <= 1.0) else assert(tg == 0.0)
        // all-equal tokens → maximal repetition on every signal (ratio is
        // rounded to 6 decimals, so compare with tolerance — an exact
        // 1.0/n match would skip the guard for n = 3, 6, 7, ...)
        if (math.abs(ratio - 1.0 / n) < 1e-6 && n > 1) {
          assert(run == n); assert(bg == 1.0)
        }
      }
  }

  test("law: native repetition stats equal the HOF string formulation") {
    import graft.text.TextAnalysis
    val docs = sample(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sz = org.apache.spark.sql.functions.size _ // ScalaTest also has `size`
    val tokens = split(lower(trim(col("text"))), "\\s+")
    val hof = docs.select(col("doc_id"),
      sz(tokens).as("n_tokens"),
      round(sz(array_distinct(tokens)).cast("double") /
        greatest(sz(tokens), lit(1)).cast("double"), 6)
        .as("distinct_token_ratio"),
      TextAnalysis.maxRunLength(tokens).as("max_token_run"),
      round(TextAnalysis.topNgramFrac(tokens, 2), 6).as("top_bigram_frac"),
      round(TextAnalysis.topNgramFrac(tokens, 3), 6).as("top_trigram_frac"))
    val native = TextAnalysis.repetitionSignals(docs, "text", "doc_id")
    rowSet(native) shouldBe rowSet(hof)
  }

  test("law: decontaminating a corpus against itself flags every document") {
    val docs = sample(docGen, 40).distinct.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.text.Dedup.decontaminate(docs, docs, "text", "doc_id",
      shingleN = 3)
    // every doc shares all its shingles with the eval set (itself)
    out.where(!col("contaminated")).count() shouldBe 0
    out.where(col("n_hits") < 1).count() shouldBe 0
  }

  test("law: sorted-merge jaccard equals the hash-set jaccard on random arrays") {
    val arrGen = for {
      n <- Gen.choose(0, 30)
      xs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    } yield xs
    val pairs = sample(Gen.zip(arrGen, arrGen), 60, 11L)
      .map { case (a, b) => (a.distinct, b.distinct) }
    val df = pairs.toDF("a", "b")
    val r = df.select(
      graft.functions.TextHashExprs.jaccardLong(col("a"), col("b")).as("set"),
      graft.functions.TextHashExprs.jaccardLongSorted(
        sort_array(col("a")), sort_array(col("b"))).as("merge")).collect()
    r.foreach(row => row.getDouble(1) shouldBe row.getDouble(0))
  }

  test("law: approximate quantiles track exact quantiles within rank tolerance") {
    // at accuracy=10000 on a ~40-cell cube the GK sketch is lossless in
    // practice, but assert the contractual bound, not bit equality:
    // every approx quantile must lie between the exact quantiles one
    // rank-tolerance step away
    val c = randomCube(31L, 60)
    val probs = Seq(0.25, 0.5, 0.75)
    def collectQ(cc: graft.cube.Cube): Map[(String, Int), Double] =
      cc.df.collect().map { r =>
        ((r.getAs[String](Dim.Band) + "|" + r.getAs[Double](Dim.Y) +
          "|" + r.getAs[Double](Dim.X)),
          r.getAs[Int]("quantile_idx")) -> r.getAs[Double](Cube.ValueCol)
      }.toMap
    // reduce over time: group = per-pixel series
    val exact = collectQ(graft.ops.Reducers.quantiles(c, "time", probs))
    val approx = collectQ(graft.ops.Reducers.quantilesApprox(c, "time", probs))
    approx.keySet shouldBe exact.keySet
    // contractual bound: approx_percentile returns an ORDER STATISTIC
    // whose rank is within n/accuracy of the target (at accuracy=10000
    // and tiny groups, exactly the bracketing statistic), while the
    // exact aggregate INTERPOLATES — so assert each approx value lies
    // between the two order statistics bracketing p·(n−1)
    val groupVals: Map[String, Array[Double]] = c.df.collect()
      .groupBy(r => r.getAs[String](Dim.Band) + "|" +
        r.getAs[Double](Dim.Y) + "|" + r.getAs[Double](Dim.X))
      .map { case (g, rs) =>
        g -> rs.map(_.getAs[Double](Cube.ValueCol)).sorted }
    approx.foreach { case ((g, qi), v) =>
      val vals = groupVals(g)
      val pos = probs(qi) * (vals.length - 1)
      val lo = vals(math.floor(pos).toInt)
      val hi = vals(math.ceil(pos).toInt)
      v should be >= lo - 1e-9
      v should be <= hi + 1e-9
      // interpolated exact quantile lies in the same bracket
      exact((g, qi)) should be >= lo - 1e-9
      exact((g, qi)) should be <= hi + 1e-9
    }
  }

  test("law: bloom decontamination never misses a truly contaminated doc") {
    val docs = sample(docGen, 40).distinct.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // eval set = half the corpus → those docs are contaminated by
    // construction; bloom has no false negatives, so every exact flag
    // must also be a bloom flag (n_hits >= exact n_hits never needed —
    // membership is what matters)
    val eval = docs.where(col("doc_id") < 20)
    val bloom = graft.text.Dedup.evalGramBloom(eval, "text", shingleN = 3,
      estimatedItems = 1L << 12, numBits = 1L << 16)
    val exact = graft.text.Dedup.decontaminate(docs, eval, "text", "doc_id",
        shingleN = 3)
      .where(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val flagged = graft.text.Dedup.decontaminateBloom(docs, bloom,
        "text", "doc_id", shingleN = 3)
      .where(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    exact.subsetOf(flagged) shouldBe true // zero false negatives
    // at 16 bits/gram on this tiny set, FPs are observationally absent
    (flagged -- exact) shouldBe Set.empty
  }

  test("law: connectedComponents equals union-find on random pair graphs") {
    // brute-force referee: driver-side union-find over the same edges
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val edgeGen = for {
      a <- Gen.choose(0, 39); b <- Gen.choose(0, 39) if a != b
    } yield (math.min(a, b).toLong, math.max(a, b).toLong)
    for (seed <- Seq(1L, 7L, 23L)) {
      val edges = sample(edgeGen, 30, seed).distinct
      val expectedAll = unionFind(40, edges)
      val inPairs = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = expectedAll.filter { case (k, _) => inPairs(k) }
      val pairs = edges.toDF("id_a", "id_b")
      // both paths — driver union-find (default threshold) and the
      // distributed star iteration (threshold 0) — must agree with the
      // referee exactly
      val fast = graft.text.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = graft.text.Dedup.connectedComponents(pairs, "id_a", "id_b",
          smallThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      fast shouldBe expected
      dist shouldBe expected
    }
    // adversarial diameter: a path graph must still collapse to one root
    // through the distributed iteration (log-round star contraction)
    val path = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val labels = graft.text.Dedup.connectedComponents(path, "id_a", "id_b",
      smallThreshold = 0L)
    labels.select("cluster").distinct().collect().map(_.getLong(0)).toSeq shouldBe Seq(0L)
    labels.count() shouldBe 30
  }

  test("law: distributed CC converges on a mixed 5k-edge topology") {
    // non-toy shape through the star iteration (smallThreshold = 0):
    // 10 cliques of 20, one 500-node path (worst-case diameter), one
    // 1000-leaf star, plus random cross-component noise edges inside a
    // disjoint id range per structure — verified against union-find
    val cliques = for {
      c <- 0 until 10; a <- 0 until 20; b <- (a + 1) until 20
    } yield ((c * 100 + a).toLong, (c * 100 + b).toLong)
    val path = (10000L until 10500L).sliding(2).map(s => (s(0), s(1))).toSeq
    val star = (1L to 1000L).map(i => (20000L, 20000L + i))
    val rnd = new scala.util.Random(41)
    val noise = Seq.fill(2000) {
      val base = rnd.nextInt(10) * 100
      ((base + rnd.nextInt(20)).toLong, (base + rnd.nextInt(20)).toLong)
    }.filter { case (a, b) => a != b }
    val edges = (cliques ++ path ++ star ++ noise).distinct
    // driver referee over a compacted id space
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val expected = ids.map(n => n -> ids(find(idx(n)))).toMap
    val got = graft.text.Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b", smallThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe expected
  }

  test("law: dedupCorpus keeps exactly one doc per cluster plus singletons") {
    val docs = (0L until 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {0,1,2}, {5,6}; singletons elsewhere
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = graft.text.Dedup.dedupCorpus(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe ((0L until 20L).toSet -- Set(1L, 2L, 6L))
    // no pairs → the corpus passes through untouched
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    graft.text.Dedup.dedupCorpus(docs, none, "doc_id").count() shouldBe 20
  }

  test("law: dedupCorpusBest keeps the max-score doc per cluster, ties to lowest id") {
    val docs = Seq(
      (0L, 5L), (1L, 9L), (2L, 9L), // cluster {0,1,2}: 1 and 2 tie on score
      (5L, 3L), (6L, 7L),           // cluster {5,6}: 6 wins
      (8L, 1L))                     // singleton
      .toDF("doc_id", "score")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = graft.text.Dedup.dedupCorpusBest(docs, pairs, "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L, 6L, 8L)
  }

  test("law: distributed ordinal shuffle equals the window formulation on any partitioning") {
    val df = spark.range(0, 3000).toDF("doc_id")
    val want = graft.text.Sampling
      .shuffleDeterministic(df, "doc_id", withOrdinal = true)
      .select("ord", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    for (parts <- Seq(1, 7, 32)) {
      val got = graft.text.Sampling
        .shuffleDeterministicOrdinals(df.repartition(parts), "doc_id")
        .select("ord", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      got shouldBe want
    }
  }

  test("law: span surgery collapses the duplicated-window mass it measures") {
    import spark.implicits._
    // seeded synthetic corpus: 40 docs, every doc_id%8 class shares a
    // 20-token span inside otherwise-unique filler
    val rnd = new scala.util.Random(11)
    val shared = (0 until 8).map(c =>
      (0 until 20).map(_ => s"s${c}w${rnd.nextInt(50)}").mkString(" "))
    val docs = (0L until 40L).map { i =>
      val filler = (0 until 15).map(_ => s"u${i}t${rnd.nextInt(1000)}")
        .mkString(" ")
      (i, s"$filler ${shared((i % 8).toInt)}")
    }.toDF("doc_id", "text")
    def dupMass(d: org.apache.spark.sql.DataFrame, tc: String): Long =
      graft.text.Dedup.duplicatedSpans(d, tc, "doc_id", n = 8)
        .agg(sum("n_dup")).head().getLong(0)
    val before = dupMass(docs, "text")
    before should be >= 40L // 5 docs per class × duplicated windows
    val cut = graft.text.Dedup
      .removeDuplicatedSpans(docs, "text", "doc_id", n = 8)
    val after = dupMass(cut, "clean_text")
    // the kept-first copies are no longer duplicated; only accidental
    // adjacencies created by the cuts can remain, and on this corpus
    // the filler tokens are unique per doc, so the signal drops to zero
    after shouldBe 0L
    // and the surgery removed tokens only from the 4 non-first copies
    cut.agg(sum("n_removed")).head().getLong(0) should be >= 4 * 8L
  }

  private val wordGen: Gen[String] = for {
    len <- Gen.choose(1, 8)
    cs <- Gen.listOfN(len, Gen.alphaLowerChar)
  } yield cs.mkString

  test("law: CMS estimate is an upper bound on the true count, exact " +
      "for most probes at low load (random corpora)") {
    for (seed <- 1L to 3L) {
      val words = sample(wordGen, 400, seed)
      val docs = words.grouped(20).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      val exact = words.groupBy(identity).map { case (w, ws) =>
        w -> ws.size.toLong }
      val probes = exact.keys.take(12).toSeq
      val est = graft.text.Sketches
        .cmsFrequencyTokens(docs, "text", probes)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      probes.foreach { w =>
        est(w) should be >= exact(w) // CMS never undercounts
        // 400 tokens in 4x1024 cells: collisions are rare — allow a
        // small overcount, catch gross hash-quality failures
        est(w) should be <= exact(w) + 5
      }
    }
  }

  test("law: HLL estimate tracks true cardinality within 4 sigma on " +
      "random corpora across the LC/raw crossover") {
    for ((nWords, seed) <- Seq((200, 11L), (3000, 12L), (9000, 13L))) {
      val values = sample(Gen.choose(0, nWords * 10), nWords, seed)
        .map(i => s"v$i").distinct
      val df = values.map(v => ("g", v)).toDF("g", "v")
      val est = graft.text.Sketches.hllDistinct(df, col("v"), Seq("g"))
        .head().getDouble(3)
      val err = math.abs(est - values.size) / values.size.toDouble
      withClue(s"n=${values.size} est=$est: ") { err should be < 0.10 }
    }
  }

  test("law: containment is symmetric-exact at the extremes — subset " +
      "pairs score 1.0, disjoint pairs never appear") {
    for (seed <- 21L to 23L) {
      val words = sample(wordGen, 60, seed).distinct
      val half = words.take(words.size / 2)
      val docs = Seq(
        (1L, "b", words.mkString(" ")),
        (2L, "b", half.mkString(" ")),
        (3L, "b", sample(Gen.listOfN(8, Gen.numChar), 8, seed + 99)
          .map(_.mkString).mkString(" ")))
        .toDF("doc_id", "blk", "text")
      val out = graft.text.Dedup.containmentPairs(docs, "text", "doc_id",
          Seq("blk"), shingleN = 3, threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the half-doc's shingles are a strict subset (its 3-gram windows
      // all appear in the full doc's prefix) -> containment exactly 1
      out.map(t => (t._1, t._2)) should contain((2L, 1L))
      out.foreach(_._3 shouldBe 1.0)
    }
  }

  test("law: BPE apply conserves corpus token mass — subword " +
      "occurrence-weighted lengths re-concatenate to the original words") {
    for (seed <- 31L to 32L) {
      val words = sample(wordGen, 150, seed)
      val docs = words.grouped(15).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      val merges = graft.text.Bpe.trainMerges(docs, "text", 6).map(_._2)
      val toks = graft.text.Bpe.applyMerges(docs, "text", merges)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      // total characters across subword tokens x occurrences equals the
      // total characters of the corpus words: merges never create or
      // destroy characters
      val tokChars = toks.map { case (t, n) => t.length.toLong * n }.sum
      tokChars shouldBe words.map(_.length.toLong).sum
    }
  }

  private val mixRowGen: Gen[(Long, String)] = for {
    id  <- Gen.choose(0L, 5000L)
    src <- Gen.frequency(6 -> Gen.const("head"),
      3 -> Gen.oneOf("mid1", "mid2"),
      1 -> Gen.oneOf("t1", "t2", "t3", "t4"))
  } yield (id, src)

  test("law: unimax kept sets are NESTED in the budget — water-filled " +
      "rates are monotone, so a bigger budget only adds rows") {
    for (seed <- 41L to 43L) {
      val rows = sample(mixRowGen, 300, seed)
        .groupBy(_._1).map(_._2.head).toSeq // unique ids
      val df = rows.toDF("id", "src")
      val budgets = Seq(20L, 60L, 150L, rows.size.toLong + 10)
      val kept = budgets.map { b =>
        graft.text.Sampling.unimaxSample(df, "src", "id", b)
          .select("id").collect().map(_.getLong(0)).toSet
      }
      kept.sliding(2).foreach { case Seq(small, big) =>
        small.subsetOf(big) shouldBe true
      }
      kept.last.size shouldBe rows.size // covering budget keeps all
    }
  }

  test("law: unimax epoch copies are contiguous from 1 and capped at E") {
    for (seed <- 44L to 45L) {
      val rows = sample(mixRowGen, 250, seed)
        .groupBy(_._1).map(_._2.head).toSeq
      val df = rows.toDF("id", "src")
      val out = graft.text.Sampling
        .unimaxSampleEpochs(df, "src", "id", budget = 180L, maxEpochs = 3L)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val byId = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
      byId.values.foreach { es =>
        es.head shouldBe 1L                   // copies start at epoch 1
        es shouldBe (1L to es.last)           // contiguous
        es.last should be <= 3L               // capped at E
      }
      // realized volume tracks the budget (LCG sampling noise in the
      // partial sources only — the allocation itself is exact)
      out.length.toDouble shouldBe 180.0 +- 54.0
    }
  }

  /** The unrolled ray-casting `Column` tree that [[Geo.Polygons]]
    * replaced, kept as the kernel's reference: one `when` term per
    * non-horizontal edge. */
  private object UnrolledRayCast {
    def pointInRing(px: Column, py: Column, ring: Geo.Ring): Column = {
      val n = ring.length
      val crossings: Seq[Column] = (0 until n).map { i =>
        val (x1, y1) = ring(i)
        val (x2, y2) = ring((i + 1) % n)
        if (y1 == y2) lit(0)
        else {
          val straddles = (lit(y1) > py) =!= (lit(y2) > py)
          val xAtY = lit(x1) + (py - lit(y1)) * lit((x2 - x1) / (y2 - y1))
          when(straddles && px < xAtY, 1).otherwise(0)
        }
      }
      (crossings.reduce(_ + _) % 2) === 1
    }
    def pointInPolygons(px: Column, py: Column, rings: Seq[Geo.Ring]): Column =
      rings.map(pointInRing(px, py, _)).reduce(_ || _)
    def featureId(px: Column, py: Column, features: Seq[Geo.Ring]): Column =
      features.zipWithIndex.foldRight(lit(null).cast("int")) {
        case ((ring, i), acc) => when(pointInRing(px, py, ring), lit(i)).otherwise(acc)
      }
  }

  test("law: the point-in-polygon kernel equals the unrolled ray-cast " +
      "tree for filter, first id and join rows, codegen and interpreted") {
    val rnd = new scala.util.Random(5)
    // 3-64 vertices; a third of the coordinates on a 0.5 lattice, so
    // horizontal edges, shared vertex heights and collinear runs occur
    def coord(): Double =
      if (rnd.nextInt(3) == 0) (rnd.nextInt(41) - 20) * 0.5 else rnd.nextDouble() * 20 - 10
    val rings: Seq[Geo.Ring] = (0 until 24).map { _ =>
      val n = 3 + rnd.nextInt(62)
      val vs = Array.fill(n)((coord(), coord()))
      for (i <- 1 until n if rnd.nextInt(8) == 0) vs(i) = (vs(i)._1, vs(i - 1)._2)
      vs.toSeq
    }
    val edges = rings.flatMap(r => r.indices.map(i => (r(i), r((i + 1) % r.length))))
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, 1e308, -1e308, Double.MinPositiveValue).map(Option(_)) :+ None
    def any(): Double = rnd.nextDouble() * 22 - 11
    val pts: Seq[(Option[Double], Option[Double])] =
      Seq.fill(92000)((Some(any()), Some(any()))) ++
      rings.flatten.map { case (x, y) => (Some(x), Some(y)) } ++ // exact vertices
      edges.flatMap { case ((x1, y1), (x2, y2)) =>
        // on the edge: its own crossing abscissa, and interpolated points
        val py = y1 + rnd.nextDouble() * (y2 - y1)
        val onX = if (y1 == y2) x1 else x1 + (py - y1) * ((x2 - x1) / (y2 - y1))
        (Some(onX), Some(py)) +:
          Seq(0.25, 0.5, 0.75).map(s => (Some(x1 + s * (x2 - x1)), Some(y1 + s * (y2 - y1))))
      } ++
      rings.flatten.map { case (_, y) => (Some(any()), Some(y)) } ++ // vertex heights
      (for (a <- specials; b <- specials) yield (a, b)) ++
      Seq.fill(4000) {
        val s = specials(rnd.nextInt(specials.size))
        if (rnd.nextBoolean()) (s, Some(any())) else (Some(any()), s)
      }
    pts.size should be >= 100000
    val df = spark.sparkContext.parallelize(
      pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }, 4)
      .toDF("id", "x", "y").cache()
    df.count()
    val (x, y) = (col("x"), col("y"))
    val groups = rings.grouped(4).toSeq
    val mismatches = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      val saved = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try groups.zipWithIndex.foreach { case (group, g) =>
        def diff(a: String, b: String) = sum(when(!(col(a) <=> col(b)), 1L).otherwise(0L))
        val r = df.select(
            Geo.pointInPolygons(x, y, group).as("k_in"),
            UnrolledRayCast.pointInPolygons(x, y, group).as("r_in"),
            Geo.featureId(x, y, group).as("k_fid"),
            UnrolledRayCast.featureId(x, y, group).as("r_fid"))
          .agg(diff("k_in", "r_in"), diff("k_fid", "r_fid")).head()
        mismatches(s"$mode filter") += r.getLong(0)
        mismatches(s"$mode first id") += r.getLong(1)
        val polys = group.zipWithIndex.map { case (ring, i) => (100 + 4 * g + i, ring) }
        val kernelRows = Geo.spatialJoin(df, x, y, polys).select("id", "poly_id")
          .as[(Long, Int)].collect().toSeq.sorted
        val treeRows = polys.map { case (pid, ring) =>
          df.where(UnrolledRayCast.pointInRing(x, y, ring))
            .select(col("id"), lit(pid).as("poly_id"))
        }.reduce(_ union _).as[(Long, Int)].collect().toSeq.sorted
        kernelRows.size should be > 0
        mismatches(s"$mode join rows") +=
          (kernelRows diff treeRows).size + (treeRows diff kernelRows).size
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    df.unpersist()
    info(s"${pts.size} points, ${rings.size} rings (${edges.size} edges), " +
      s"mismatches: ${mismatches.toSeq.sorted.mkString(", ")}")
    mismatches.size shouldBe 6
    mismatches.values.sum shouldBe 0L
  }
}
