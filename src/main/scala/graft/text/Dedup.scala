package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact: hash-groupBy — one shuffle on a 256-bit digest, no text
  *    comparison; the digest column is 32 bytes regardless of doc size.
  *  - MinHash/LSH: shingle → minhash signature (map-side, codegen HOFs) →
  *    band buckets → candidate pairs only within equal buckets (the
  *    band-join prunes the O(n²) pair space) → exact Jaccard verify on the
  *    candidates only.
  *  - SimHash: 64-bit sign-aggregated token hashes; candidates share any
  *    2 of 8 8-bit bands (exact recall to Hamming 6), verified by popcount
  *    distance.
  *  - n-gram Jaccard: the verify primitive, exposed standalone.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per content digest. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** LSH band key rows: (band_id, band_hash) pairs for blocking. k must be
    * divisible into `bands` of r = k/bands rows. */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws("_",
          (0 until r).map(i => element_at(sig, b * r + i + 1)): _*)).as("bh"))): _*)
  }

  /** Candidate near-dup pairs via MinHash LSH, verified with exact shingle
    * Jaccard >= threshold. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Scale shape: the banded self-join carries ONLY (id, band, hash) rows —
    * 24 bytes each regardless of document size; shingle arrays are joined
    * back onto the (deduplicated) candidate pairs afterwards, so document
    * content crosses the shuffle once per candidate, not once per band.
    * Default bands/rows (8 bands × 4 rows from k=32) put the S-curve
    * midpoint at J≈0.6: a J=0.2 random pair has a ~1.3% candidate
    * probability (vs 48% with 16×2 banding — which floods the verify stage
    * at corpus scale), while J≥0.9 dups are caught with P > 1-1e-11. */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.7): DataFrame = {
    // fused tokenize→shingle→minhash native expression: one pass over the
    // text, no intermediate arrays (the HOF pipeline allocated four arrays
    // per document and an interpreted lambda call per shingle; measured 6×
    // slower on the sf0.1 bench). The banded self-join then carries ONLY
    // (id, band, hash) — 24 bytes/row regardless of document size.
    val withSig = df.select(col(idCol).as("id"),
      graft.functions.TextHashExprs
        .minhashText(lower(trim(col(textCol))), shingleN, k).as("sig"))
    // persist the narrow band-key table: both self-join sides read it, so
    // the text-hashing pass runs once (24 bytes/doc/band in memory — at
    // 1B docs × 8 bands that's ~200 GB cluster-wide, well inside executor
    // storage for the cluster sizes this targets; spill-safe either way).
    // count() EAGERLY materializes the cache: a lazy persist lets the two
    // self-join map stages race and compute the minhash pass twice.
    val banded = withSig
      .select(col("id"), explode(lshBands(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
      .persist()
    banded.count()
    // same pay-as-you-go prune as simhash: only multiply-occupied buckets
    // can produce candidate pairs, and the occupancy set comes from a true
    // partial aggregation over the persisted band table — on a mostly
    // unique corpus the self-join shuffles a survivor sliver, not all 8n
    // band rows (broadcast caveat as in simhashPairsFromHashes)
    val hot = broadcast(banded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("_bn")).where(col("_bn") > 1)
      .select(col("band"), col("bh")))
    val live = banded.join(hot, Seq("band", "bh"), "left_semi")
    val a = live.as("a"); val b = live.as("b")
    // candidate pairs are tiny relative to the corpus by design (the
    // banding S-curve); persist + eager count so the three consumers below
    // (the id semi-join + the pair join) don't re-run the band join
    val cands = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist()
    cands.count()
    // exact-Jaccard verify needs shingle sets — but only for documents in a
    // candidate pair, so semi-join BEFORE shingling: at corpus scale this
    // shingles a few thousand docs, not a few billion. The sets are
    // DISTINCT SHINGLE HASHES from the fused one-pass expression —
    // identical intersection/union counts to string shingles (mod 2⁻⁶⁴
    // collisions) without re-tokenizing through the interpreted HOF chain.
    val candIds = cands.select(col("id_a").as("id"))
      .union(cands.select(col("id_b").as("id"))).distinct()
    val sh = df.select(col(idCol).as("id"), col(textCol).as("_text"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), sort_array(graft.functions.TextHashExprs
        .shingleHashes(lower(trim(col("_text"))), shingleN)).as("sh"))
    val result = cands
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", graft.functions.TextHashExprs
        .jaccardLongSorted(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      // the verified pair list is small by construction; checkpointing it
      // locally lets the two caches above be RELEASED deterministically —
      // in a long-lived session (HTTP API) lazy persists would otherwise
      // accumulate forever
      .localCheckpoint(true)
    banded.unpersist(false)
    cands.unpersist(false)
    result
  }

  /** Incremental MinHash-LSH dedup: near-dup pairs between an INCOMING
    * shard and an already-kept REFERENCE corpus — the production
    * ingestion gate ("does this new crawl batch duplicate anything we
    * already kept?"). Returns (inc_id, ref_id, jaccard) for every
    * verified cross-side pair with exact shingle Jaccard >= threshold;
    * anti-join the incoming shard on `inc_id` to admit only novel
    * documents.
    *
    * Scale shape mirrors [[minhashLsh]] with the self-join replaced by a
    * cross-side join: both sides reduce to (id, band, hash) rows — 24
    * bytes per document per band regardless of document size — and only
    * band keys that occur on BOTH sides produce join output, so a novel
    * shard shuffles nothing but its band table. The incoming side is
    * normally orders of magnitude smaller than the corpus; in steady
    * state the reference band table is computed ONCE and persisted as a
    * bucketed store keyed by (band, bh) (write via
    * [[Sampling.writeCorpusStore]]-style bucketing), so per-shard cost is
    * independent of corpus size except for the colliding buckets. Exact
    * verification shingles only documents that appear in a candidate
    * pair, same as the self-join path. */
  /** Persisted dedup INDEX over the kept corpus — the build-once side
    * of [[minhashLshIncremental]], the same move [[graft.text.Similarity.writeIvfStore]]
    * makes for vectors: pay the corpus shingle+minhash pass ONCE and
    * write
    *   - `path/bands`    (band, bh, ref_id)  — the LSH band table,
    *   - `path/shingles` (ref_id, sh)        — sorted shingle hashes for
    *     the exact-Jaccard verify,
    *   - `path/params`   (shingle_n, k, bands) — so serving can never
    *     silently mismatch the build parameters.
    * A nightly ingest gate then probes the store instead of
    * re-shingling the whole corpus per shard. */
  def writeMinhashIndex(ref: DataFrame, textCol: String, idCol: String,
      path: String, shingleN: Int = 3, k: Int = 32,
      bands: Int = 8): String = {
    val spark = ref.sparkSession
    import spark.implicits._
    // ONE corpus tokenize+shingle pass: the shingle table lands first,
    // and the band table derives its signatures from the WRITTEN hash
    // arrays (minhashFromHashes shares MinHashText's affine lanes —
    // bit-identical signatures, law-tested) instead of re-shingling the
    // text a second time.
    ref.select(col(idCol).as("ref_id"),
        sort_array(graft.functions.TextHashExprs
          .shingleHashes(lower(trim(col(textCol))), shingleN)).as("sh"))
      .write.mode("overwrite").parquet(s"$path/shingles")
    spark.read.parquet(s"$path/shingles")
      .select(col("ref_id"), graft.functions.TextHashExprs
        .minhashFromHashes(col("sh"), k).as("sig"))
      .select(col("ref_id"), explode(lshBands(col("sig"), k, bands)).as("b"))
      .select(col("ref_id"), col("b.band"), col("b.bh"))
      .write.mode("overwrite").parquet(s"$path/bands")
    Seq((shingleN, k, bands)).toDF("shingle_n", "k", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    path
  }

  /** Serve the ingestion gate from a [[writeMinhashIndex]] store:
    * identical result to [[minhashLshIncremental]] with the build's
    * parameters (oracle shared verbatim) — the shard's band rows are
    * stateless projections, the stored band table semi-prunes by the
    * shard's broadcast key set before the candidate join, and only
    * colliding candidates read the stored shingle table. The corpus
    * text is never touched at serve time. */
  def minhashIncrementalIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, inc: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7): DataFrame = {
    val params = spark.read.parquet(s"$path/params").head()
    val (shingleN, k, bands) =
      (params.getInt(0), params.getInt(1), params.getInt(2))
    val rb = spark.read.parquet(s"$path/bands")
    val ib = bandRowsOf(inc, textCol, idCol, shingleN, k, bands).persist()
    ib.count()
    val incKeys = broadcast(ib.select(col("band"), col("bh")).distinct())
    val rbLive = rb.join(incKeys, Seq("band", "bh"), "left_semi")
    val cands = ib.as("i").join(rbLive.as("r"),
        col("i.band") === col("r.band") && col("i.bh") === col("r.bh"))
      .select(col("i.id").as("inc_id"), col("r.ref_id"))
      .dropDuplicates("inc_id", "ref_id")
      .persist()
    cands.count()
    val shI = inc
      .select(col(idCol).as("inc_id"), col(textCol).as("_t"))
      .join(cands.select("inc_id").distinct(), Seq("inc_id"), "left_semi")
      .select(col("inc_id"), sort_array(graft.functions.TextHashExprs
        .shingleHashes(lower(trim(col("_t"))), shingleN)).as("sh_i"))
    val shR = spark.read.parquet(s"$path/shingles")
      .join(cands.select("ref_id").distinct(), Seq("ref_id"), "left_semi")
      .withColumnRenamed("sh", "sh_r")
    val result = cands
      .join(shI, "inc_id").join(shR, "ref_id")
      .withColumn("jaccard", graft.functions.TextHashExprs
        .jaccardLongSorted(col("sh_i"), col("sh_r")))
      .where(col("jaccard") >= threshold)
      .select(col("inc_id"), col("ref_id"),
        round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint(true)
    ib.unpersist(false); cands.unpersist(false)
    result
  }

  /** Shared band-row projection: (id, band, bh) per document. */
  private def bandRowsOf(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int): DataFrame = df
    .select(col(idCol).as("id"),
      graft.functions.TextHashExprs
        .minhashText(lower(trim(col(textCol))), shingleN, k).as("sig"))
    .select(col("id"), explode(lshBands(col("sig"), k, bands)).as("b"))
    .select(col("id"), col("b.band"), col("b.bh"))

  def minhashLshIncremental(ref: DataFrame, inc: DataFrame, textCol: String,
      idCol: String, shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.7): DataFrame = {
    def bandRows(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"),
        graft.functions.TextHashExprs
          .minhashText(lower(trim(col(textCol))), shingleN, k).as("sig"))
      .select(col("id"), explode(lshBands(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
    val rb = bandRows(ref).persist()
    val ib = bandRows(inc).persist()
    rb.count(); ib.count()
    // cross-side prune: only band keys the INCOMING shard actually
    // carries can match, and the shard is orders of magnitude smaller
    // than the corpus — broadcast its distinct key set and semi-join the
    // reference band table BEFORE the join, so the corpus side shuffles
    // only colliding keys instead of all 8n band rows. (For a shard too
    // large to broadcast, drop the hint and let both band tables
    // hash-partition — the join itself is unchanged.)
    val incKeys = broadcast(ib.select(col("band"), col("bh")).distinct())
    val rbLive = rb.join(incKeys, Seq("band", "bh"), "left_semi")
    val cands = ib.as("i").join(rbLive.as("r"),
        col("i.band") === col("r.band") && col("i.bh") === col("r.bh"))
      .select(col("i.id").as("inc_id"), col("r.id").as("ref_id"))
      .dropDuplicates("inc_id", "ref_id")
      .persist()
    cands.count()
    def shingled(df: DataFrame, ids: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), col(textCol).as("_t"))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"), sort_array(graft.functions.TextHashExprs
        .shingleHashes(lower(trim(col("_t"))), shingleN)).as("sh"))
    val shI = shingled(inc, cands.select(col("inc_id").as("id")).distinct())
      .withColumnRenamed("id", "inc_id").withColumnRenamed("sh", "sh_i")
    val shR = shingled(ref, cands.select(col("ref_id").as("id")).distinct())
      .withColumnRenamed("id", "ref_id").withColumnRenamed("sh", "sh_r")
    val result = cands
      .join(shI, "inc_id").join(shR, "ref_id")
      .withColumn("jaccard", graft.functions.TextHashExprs
        .jaccardLongSorted(col("sh_i"), col("sh_r")))
      .where(col("jaccard") >= threshold)
      .select(col("inc_id"), col("ref_id"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint(true)
    rb.unpersist(false); ib.unpersist(false); cands.unpersist(false)
    result
  }

  /** Benchmark decontamination: flag corpus documents that share word
    * n-gram shingles with an evaluation set — the standard guard against
    * test-set leakage into training data (the GPT-3/C4 style n-gram
    * overlap check).
    *
    * Returns one row per corpus document: (id, n_hits, contaminated),
    * where n_hits = |distinct shingles of the document ∩ distinct shingles
    * of the eval set| and contaminated = n_hits >= minHits.
    *
    * 100 TB shape: the eval side is small by definition (benchmarks are
    * KB..MB, the corpus is TB), so its distinct shingle-hash set is
    * BROADCAST and the corpus-side explode + join + per-doc count runs
    * entirely map-side — the only shuffle is the partial-aggregated
    * (id, count) stream, and only for documents with >= 1 hit. The final
    * annotation join broadcasts that hit table back over the corpus ids;
    * if a corpus were so contaminated the hit set outgrows a broadcast,
    * drop that hint and let it shuffle — the answer set itself is huge
    * then and the shuffle is inherent. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, textCol: String,
      idCol: String, shingleN: Int = 5, minHits: Long = 1L): DataFrame = {
    def grams(c: Column) = graft.functions.TextHashExprs
      .shingleHashes(lower(trim(c)), shingleN)
    val evalGrams = evalDocs
      .select(explode(grams(col(textCol))).as("g")).distinct()
    val hits = docs
      .select(col(idCol), explode(grams(col(textCol))).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol))
      .join(broadcast(hits), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** Corpus-level contamination REPORT — the aggregate companion of
    * [[decontaminate]] (which flags documents): what fraction of the
    * eval set's DISTINCT shingles appears anywhere in the training
    * corpus. One output row: (n_eval_grams, n_contaminated,
    * frac_contaminated) — the number a benchmark card quotes.
    *
    * 100 TB shape: the eval set is benchmark-sized, so its distinct gram
    * table broadcasts; the corpus-scale side is ONE gram stream passed
    * through that broadcast semi-join, and only the ≤|eval| surviving
    * grams reach the distinct + count. The corpus never shuffles its
    * grams. */
  def contaminationReport(train: DataFrame, evalDocs: DataFrame,
      textCol: String, shingleN: Int = 5): DataFrame = {
    def grams(c: Column) = graft.functions.TextHashExprs
      .shingleHashes(lower(trim(c)), shingleN)
    // reused twice (denominator count + hit semi-join) — materialize
    val evalGrams = evalDocs
      .select(explode(grams(col(textCol))).as("g")).distinct()
      .localCheckpoint(true)
    val hitGrams = train
      .select(explode(grams(col(textCol))).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .distinct()
    evalGrams.agg(count(lit(1)).as("n_eval_grams"))
      .crossJoin(hitGrams.agg(count(lit(1)).as("n_contaminated")))
      .select(col("n_eval_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") /
          col("n_eval_grams").cast("double"), 6).as("frac_contaminated"))
  }

  /** Bloom sketch of an eval set's distinct shingle hashes, collected to
    * the driver. Benchmarks are KB..MB, so the sketch is small by
    * definition: 10 bits/gram ≈ 1% FP — size `numBits` accordingly. */
  def evalGramBloom(evalDocs: DataFrame, textCol: String,
      shingleN: Int = 5, estimatedItems: Long = 1L << 20,
      numBits: Long = 1L << 23): Array[Byte] = {
    val grams = evalDocs.select(explode(graft.functions.TextHashExprs
      .shingleHashes(lower(trim(col(textCol))), shingleN)).as("g"))
      .distinct()
    val bytes = grams.agg(graft.functions.BloomExprs
      .bloomAgg(col("g"), estimatedItems, numBits)).head().getAs[Array[Byte]](0)
    // the aggregate over ZERO rows is null — failing here beats a null
    // literal downstream, where every probe would evaluate to null and
    // the gate would silently pass the whole corpus (breaking the
    // zero-false-negative contract)
    require(bytes != null,
      "evalGramBloom: eval set produced no shingles (empty or all-null text)")
    bytes
  }

  /** [[decontaminate]] through a Bloom gate: the eval sketch embeds as a
    * binary LITERAL and each doc counts its shingle hits with one codegen
    * HOF filter — no explode, no join, no shuffle, and therefore
    * STREAMING-safe as a stateless projection (StreamingSpec pins
    * stream == batch). Bloom guarantees: zero false negatives (every
    * truly contaminated doc is flagged); false positives at the sketch's
    * FP rate — route flagged docs through the exact [[decontaminate]]
    * when the final decision needs certainty. At 100 TB this is the
    * curation-gate shape: the corpus side is a map-only scan, and the
    * sketch (MBs) rides inside the task binary once. */
  def decontaminateBloom(docs: DataFrame, bloom: Array[Byte],
      textCol: String, idCol: String, shingleN: Int = 5,
      minHits: Long = 1L): DataFrame = {
    val hits = size(filter(
      graft.functions.TextHashExprs
        .shingleHashes(lower(trim(col(textCol))), shingleN),
      h => graft.functions.BloomExprs.mightContain(lit(bloom), h)))
      .cast("long")
    docs.select(col(idCol), hits.as("n_hits"),
      (hits >= minHits).as("contaminated"))
  }

  /** Exact Jaccard of two shingle arrays (HOF formulation — the semantic
    * reference for [[jaccardLong]]; identical distinct-count semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** One-pass native Jaccard for long (hash) arrays — no intermediate
    * intersect/union arrays per pair; the hot-path form for the verify
    * stages. */
  def jaccardLong(a: Column, b: Column): Column =
    graft.functions.TextHashExprs.jaccardLong(a, b)

  /** Pairwise n-gram Jaccard within blocking groups (`blockCols`) — the
    * non-LSH variant for moderate group sizes.
    *
    * Shingle sets are DISTINCT SHINGLE HASHES from the fused one-pass
    * expression (identical intersection/union counts to string shingles
    * mod 2⁻⁶⁴ collisions): long-array intersection beats string-array
    * intersection several-fold per pair. A size-ratio prefilter prunes
    * pairs before the intersection: J(a,b) ≥ t requires
    * |a| ≥ t·|b| and |b| ≥ t·|a|.
    *
    * Skew: block sizes are rarely uniform (one language typically
    * dominates a corpus); the block self-join relies on AQE skew-join
    * splitting (on by default in Spark 4) to subdivide oversized blocks
    * at runtime. The pair space is still O(Σ blockᵢ²) — for corpora where
    * the largest block itself is huge, use [[minhashLsh]], whose banding
    * bounds candidates independently of block structure. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // shingle arrays SORTED once per row: the per-pair verify is then a
    // linear merge (JaccardSortedDistinct) instead of two HashSet builds
    // — the verify stage dominates blocked self-joins at 10⁵+ pairs
    val withSh = df.select(
      (blockCols.map(col) :+ col(idCol).as("id") :+
        sort_array(graft.functions.TextHashExprs
          .shingleHashes(lower(trim(col(textCol))), shingleN)).as("sh")): _*)
      .withColumn("_n", size(col("sh")))
    val a = withSh.as("a"); val b = withSh.as("b")
    val joinCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.id") < col("b.id") &&
      col("a._n").cast("double") >= lit(threshold) * col("b._n") &&
      col("b._n").cast("double") >= lit(threshold) * col("a._n")
    a.join(b, joinCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.TextHashExprs.jaccardLongSorted(
          col("a.sh"), col("b.sh")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** GLOBAL exact-Jaccard pair join via PREFIX FILTERING — the scale path
    * when no blocking key exists (or one block dominates): candidates are
    * generated from shingle-hash prefixes instead of a block self-join,
    * so the pair space is bounded by token co-occurrence, not O(block²).
    *
    * The prefix-filter principle (Chaudhuri/Ganti/Kaushik ICDE 2006 §3,
    * Bayardo WWW 2007, Xiao et al. WWW 2008 "PPJoin"): order every
    * shingle set by ONE global total order and keep each set's first
    * `|x| - ceil(t·|x|) + 1` elements as its prefix; any pair with
    * J ≥ t must share at least one PREFIX element on both sides, so the
    * prefix⋈prefix equi-join has perfect recall — the candidate set
    * provably contains every qualifying pair. (If all of A∩B sat past
    * A's prefix, the overlap would be ≤ ceil(t·|A|)-1 < t·|A| ≤ |A∩B| —
    * a contradiction; symmetrically for B.)
    *
    * The global order is FREQUENCY-ASCENDING (document frequency, ties
    * by hash) — the canonical PPJoin ordering: prefixes then hold each
    * document's RAREST shingles, so candidates form on rare
    * co-occurrences. Measured honestly on the bench corpus (5k docs,
    * t=0.5): 568k candidates under plain hash order → 430k under
    * frequency order — modest there because the template-generated docs
    * have a flat df spectrum (max df 24); on a Zipfian web corpus, where
    * boilerplate shingles carry the candidate mass, the frequency order
    * is the difference between quadratic and near-linear candidates
    * (Bayardo 2007 §4 measures orders of magnitude). Costs one df-count
    * pass over the exploded shingles; every pass ships only (8-byte
    * hash, id, n) triples, never text.
    *
    * Plan shape at 100 TB: shingle explode → df count (one shuffle) →
    * df join + per-doc rank window (hash- then id-keyed exchanges) →
    * prefix⋈prefix candidate equi-join → distinct pairs → two id-keyed
    * joins back to the shingle table for the sorted-merge verify.
    * Stop-shingle pruning (drop hashes whose df exceeds a cap) remains
    * the documented skew hatch for pathological corpora where one
    * boilerplate shingle still lands in most prefixes.
    *
    * `blockCols` (optional) restricts pairs to equal block keys — the
    * SAME pair set as [[ngramJaccardPairs]] with that blocking, but with
    * prefix-bounded candidates instead of the O(Σ block²) self-join:
    * block equality simply rides the candidate equi-join. This is the
    * scale form of the blocked join (the r8 sf1 smoke measured the
    * blocked form 54× at 10× data vs 4× for this one). */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      blockCols: Seq[String] = Nil): DataFrame = {
    val withSh = df.select(
      (blockCols.map(col) :+ col(idCol).as("id") :+
        sort_array(graft.functions.TextHashExprs
          .shingleHashes(lower(trim(col(textCol))), shingleN)).as("sh")): _*)
      .withColumn("_n", size(col("sh")))
      .where(col("_n") > 0)
    val tokens = withSh.select(
      (blockCols.map(col) :+ col("id") :+ col("_n") :+
        explode(col("sh")).as("tok")): _*)
    val dfreq = tokens.groupBy("tok").agg(count(lit(1)).as("_df"))
    // prefix = the p = n - ceil(t·n) + 1 tokens FIRST under the global
    // (df asc, tok asc) order — a per-doc rank window over narrow
    // triples; no per-doc array rebuild
    val pref = tokens.join(dfreq, "tok")
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("_df"), col("tok"))))
      .where(col("_r") <=
        col("_n") - ceil(lit(threshold) * col("_n")).cast("int") + 1)
      .select((blockCols.map(col) :+ col("id") :+ col("_n") :+
        col("tok")): _*)
    val blockEq = blockCols
      .map(c => col(s"pa.$c") === col(s"pb.$c"))
      .foldLeft(lit(true))(_ && _)
    val cand = pref.as("pa").join(pref.as("pb"),
        col("pa.tok") === col("pb.tok") && blockEq &&
        col("pa.id") < col("pb.id") &&
        // size-ratio filter applied AT candidate time: J ≥ t needs
        // t·|b| ≤ |a| (a the smaller side) — prunes before the distinct
        col("pa._n").cast("double") >= lit(threshold) * col("pb._n") &&
        col("pb._n").cast("double") >= lit(threshold) * col("pa._n"))
      .select(col("pa.id").as("id_a"), col("pb.id").as("id_b"))
      .distinct()
    cand
      .join(withSh.select(col("id"), col("sh").as("sh_a")),
        col("id_a") === col("id"))
      .drop("id")
      .join(withSh.select(col("id"), col("sh").as("sh_b")),
        col("id_b") === col("id"))
      .select(col("id_a"), col("id_b"),
        graft.functions.TextHashExprs.jaccardLongSorted(
          col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC near-dup detection: directed containment pairs within
    * blocks. containment(contained, container) = |A∩B| / |A| — the
    * fraction of the SMALLER overlap side's shingles found in the other
    * document. Jaccard divides by the union, so a short document quoted
    * verbatim inside a long one scores near zero and survives dedup;
    * containment scores it 1.0. Emits one directed row per qualifying
    * pair: (contained_id, container_id, containment), the contained side
    * being the one with higher containment (ties -> the LOWER id is
    * "contained", so the orientation is deterministic).
    *
    * Same scale shape as [[ngramJaccardPairs]] — blocked self-join,
    * sorted-merge intersection counts — minus the size-ratio prefilter
    * (asymmetry is the point: a 100-token doc against a 10k-token doc is
    * exactly the pair Jaccard prunes and containment must keep). At
    * corpus scale feed it the same LSH/banding prefilter as the Jaccard
    * path if block cardinalities are large. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val withSh = df.select(
      (blockCols.map(col) :+ col(idCol).as("id") :+
        sort_array(graft.functions.TextHashExprs
          .shingleHashes(lower(trim(col(textCol))), shingleN)).as("sh")): _*)
      .withColumn("_n", size(col("sh")))
    val a = withSh.as("a"); val b = withSh.as("b")
    val joinCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.id") < col("b.id")
    val inter = graft.functions.TextHashExprs
      .intersectCountSorted(col("a.sh"), col("b.sh"))
    val ca = inter.cast("double") / col("a._n") // a contained in b
    val cb = inter.cast("double") / col("b._n") // b contained in a
    a.join(b, joinCond)
      .select(
        when(ca >= cb, col("a.id")).otherwise(col("b.id")).as("contained_id"),
        when(ca >= cb, col("b.id")).otherwise(col("a.id")).as("container_id"),
        round(greatest(ca, cb), 6).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** 64-bit SimHash of the token stream: per-token xxhash64, sum of ±1 per
    * bit, sign → bit. Pure HOF fold, map-side only.
    *
    * Features are word BIGRAMS with multiplicity (no dedup): distinct
    * unigrams make template-generated documents collide — similar
    * vocabularies hash identically even when the texts differ. Order- and
    * frequency-sensitive features keep the fingerprint discriminative. */
  def simhash(text: Column, shingleN: Int = 2): Column =
    // fused tokenize→bigram→sign-aggregate native expression: one pass,
    // no token arrays (the HOF slice/concat pipeline was the bench
    // bottleneck at 5k docs; at 100 TB it's pure map-side either way but
    // 6× cheaper fused). portable = FNV-1a per bigram, so an external
    // engine (the DuckDB oracle) reproduces the exact hashes — xxhash64's
    // avalanche steps are not SQL-expressible.
    graft.functions.TextHashExprs.simhashText(lower(trim(text)), shingleN,
      portable = true)

  /** Hamming distance of two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with EXACT recall for Hamming <= maxDist.
    * Multi-index band-PAIR blocking: the 64-bit hash splits into 8 bands
    * of 8 bits; candidates share the concatenation of any 2 of the 8
    * bands (C(8,2) = 28 16-bit pair keys per doc). d flipped bits dirty
    * at most d bands, leaving >= 8−d clean — for d <= 6 at least two, so
    * every qualifying pair shares at least one pair key. (The previous
    * 4×16 single-band blocking only guaranteed d <= 3 while defaulting
    * maxDist = 6: distance-4..6 pairs with adversarial bit spread were
    * silently missed.)
    *
    * Scale note: 28 × 24-byte rows per doc enter the self-join; the
    * guarantee ties key width to 64/8×2 = 16 bits, so candidate volume
    * grows as n²/2¹⁶ per pair key — the inherent multi-index trade-off
    * between guaranteed distance and bucket selectivity. For looser
    * recall at bigger corpora, drop maxDist and widen the bands. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 6): DataFrame =
    simhashPairsFromHashes(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("h")),
      "h", "id", maxDist)

  /** The C(8,2)=28 band-PAIR blocking keys of a 64-bit simhash (see
    * [[simhashPairs]] for the recall guarantee): array of (band, bh)
    * structs. Shared by the batch self-join and the streaming gate —
    * identical keys means identical candidate recall in both modes. */
  def simhashPairKeys(h: Column): Column =
    array((for { i <- 0 until 8; j <- (i + 1) until 8 } yield
      struct(lit(i * 8 + j).as("band"),
        (shiftright(h, i * 8).bitwiseAND(lit(0xffL)) * 256 +
          shiftright(h, j * 8).bitwiseAND(lit(0xffL))).as("bh"))): _*)

  /** Blocking + verify over precomputed 64-bit hashes (see
    * [[simhashPairs]]; split out so recall is testable on planted bits). */
  def simhashPairsFromHashes(withH: DataFrame, hashCol: String,
      idCol: String, maxDist: Int): DataFrame = {
    require(maxDist <= 6,
      s"simhashPairs guarantees recall only to Hamming 6, got maxDist=$maxDist")
    val h = col(hashCol)
    val banded = withH.select(col(idCol).as("id"), h.as("_h"),
      explode(simhashPairKeys(h)).as("b"))
      .select(col("id"), col("_h"), col("b.band"), col("b.bh"))
    // ONE-PASS bucket build: group the banded rows straight into their
    // buckets, keep only multiply-occupied ones (a singleton bucket cannot
    // produce a pair), and emit the C(k,2) combinations inline per bucket.
    // The r13 shape pre-pruned singletons with a separate occupancy
    // aggregation + broadcast semi-join so singleton rows never crossed
    // the network — but feeding that prune AND the survivor side meant
    // computing the banded relation (a full corpus scan + per-row simhash)
    // TWICE, plus an eager persist/count/localCheckpoint lifecycle and a
    // bucket-keyed self-join (3 extra driver jobs: the one r1 per-query 2×
    // exceedance, round-13 verdict task 2). At 100 TB the trade is the
    // same, only bigger: the banded rows are compact (id, hash, 3-byte
    // key ≈ tens of bytes — ~9 TB shuffled for a 10B-doc corpus) while a
    // second text-column scan re-reads the corpus' bulk (~100 TB), so one
    // shuffle-everything pass beats two scans-that-shuffle-nothing.
    // Memory stays bounded: a bucket's row list is O(bucket) while its
    // pair OUTPUT is O(bucket²), so any bucket small enough to emit its
    // pairs at all holds its list trivially. Lazy end to end.
    val buckets = banded.groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("id"), col("_h"))).as("xs"))
      .where(size(col("xs")) > 1)
    // Exactly-once emission WITHOUT a distinct shuffle: a qualifying pair
    // co-occurs in every band-pair bucket where both hash bytes agree (up
    // to C(8,2)=28 of them). Instead of emitting all copies and paying a
    // dropDuplicates shuffle over the pair set, each bucket (i, j) emits a
    // pair only when (i, j) is that pair's CANONICAL band — the
    // lexicographically first agreeing byte-pair, decided from the two
    // hashes in hand: with m = the 8-bit byte-equality mask of (ha, hb),
    // bucket (i, j) is canonical iff the set bits of m strictly below j
    // are exactly {i}, i.e. (m & ((1<<j)-1)) == (1<<i). Bits i and j are
    // set by bucket-key construction, and every pair within Hamming 6 has
    // ≥ 2 agreeing bytes (pigeonhole), so exactly one bucket wins — the
    // pair set is globally distinct by construction and the whole query
    // runs in ONE shuffle.
    val ha = col("p.ha"); val hb = col("p.hb")
    val eqMaskSql = (0 until 8).map { b =>
      s"(CASE WHEN (shiftright(p.ha, ${8 * b}) & 255) = " +
        s"(shiftright(p.hb, ${8 * b}) & 255) THEN ${1L << b}L ELSE 0L END)"
    }.mkString("(", " + ", ")")
    val canonical = expr(
      s"($eqMaskSql & (shiftleft(1L, CAST(band % 8 AS INT)) - 1)) = " +
        "shiftleft(1L, CAST(band / 8 AS INT))")
    buckets
      .select(col("band"), explode(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs) - i - 1), y ->
          |    struct(x.id AS ida, y.id AS idb, x._h AS ha, y._h AS hb))))"""
          .stripMargin)).as("p"))
      .where(canonical)
      .select(
        least(col("p.ida"), col("p.idb")).as("id_a"),
        greatest(col("p.ida"), col("p.idb")).as("id_b"),
        hamming64(ha, hb).as("dist"))
      // id_a =!= id_b preserves the old self-join's strict a.id < b.id
      // (duplicate ids in the input never self-pair)
      .where(col("dist") <= maxDist && col("id_a") =!= col("id_b"))
  }

  /** Connected components over an undirected pair list: turns near-dup
    * PAIRS (any of the pair producers above) into duplicate CLUSTERS —
    * the step that makes dedup actionable, since "keep one per cluster"
    * needs the transitive closure, not the raw pair set (A~B, B~C must
    * collapse A,B,C together even when A~C itself was never emitted).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    * algorithm, also the basis of GraphFrames' implementation). Both
    * steps are ONE groupBy-window over the symmetrized edge list:
    *
    *  - large-star: every node u links its LARGER neighbors to its
    *    current minimum m(u) = min(N(u) ∪ {u});
    *  - small-star: every node u links its smaller-or-equal neighbors
    *    (and itself) to m(u).
    *
    * Each round is 2 shuffles of the (shrinking) edge list; convergence
    * is O(log² n) rounds worst-case, 2-4 rounds on real dup graphs
    * (diameter is tiny — clusters are near-cliques from the verify
    * stage). At 100 TB the edge list is orders of magnitude smaller than
    * the corpus (pairs survived an exact verify), so the iteration runs
    * on a small fraction of the input; no driver-side graph state, no
    * collect — the driver sees only one count per round for the
    * convergence test. Lineage is truncated per round with an eager
    * `localCheckpoint` (iterative DataFrame plans otherwise grow
    * exponentially and eventually stall the optimizer).
    *
    * Returns (node, cluster) for every node that appears in a pair;
    * cluster = the component's minimum node id (the star center the
    * algorithm converges to). Singleton docs never enter the edge list —
    * callers treat absence as "own cluster" ([[dedupCorpus]]).
    *
    * Size-adaptive: below `smallThreshold` edges the graph is solved with
    * driver-side union-find in one collect — a dup-pair list that small
    * is a deliberate materialization point (like the reference's own
    * driver-side steps), and a multi-round distributed iteration over it
    * would be pure scheduling overhead. Above the threshold the
    * star iteration runs; both paths produce identical labels (pinned in
    * LawsSpec). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, smallThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val sym0 = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .union(pairs.select(col(bCol).cast("long").as("u"),
        col(aCol).cast("long").as("v")))
      .where(col("u") =!= col("v")).distinct()
    // edges kept SYMMETRIC between rounds: both stars group by u and need
    // every node's full neighborhood visible under its own key
    var edges = sym0.localCheckpoint(true)
    var prevCount = edges.count()
    if (prevCount <= smallThreshold) {
      // driver union-find with path halving; labels = component minimum.
      // Parent pointers live in a primitive open-addressing map — at the
      // 2^20-edge threshold a boxed mutable.HashMap costs hundreds of MB
      // of driver heap (ADVICE r3); this is two flat long arrays
      // (~64 MB worst case at the threshold).
      val es = edges.collect()
      val parent = new LongLongMap(2 * es.length)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrElse(x, x)
        while (p != x) {
          val gp = parent.getOrElse(p, p)
          parent.put(x, gp) // halve
          x = gp
          p = parent.getOrElse(x, x)
        }
        x
      }
      es.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (!parent.contains(a)) parent.put(a, a)
        if (!parent.contains(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // flat-array key iteration is safe while find() rewrites VALUES —
      // path halving never adds or removes keys
      val labels = Seq.newBuilder[(Long, Long)]
      parent.foreachKey(n => labels += ((n, find(n))))
      import spark.implicits._
      return labels.result().toDF("node", "cluster")
    }
    var converged = prevCount == 0L
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: m = min over N(u) ∪ {u}; larger neighbors re-link
      val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
      val withM = edges.withColumn("m", least(min(col("v")).over(w), col("u")))
      val large = withM.where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
      // small-star over the large-star output (same window shape)
      val withM2 = large.withColumn("m", least(min(col("v")).over(w), col("u")))
      val small = withM2.where(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM2.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
      // superseded rounds' checkpoint blocks are released by the
      // ContextCleaner once `edges` is reassigned and the old reference
      // drops (the same release discipline as the geocode checkpoint —
      // localCheckpoint blocks are not CacheManager entries, so an
      // explicit unpersist has nothing to detach)
      val next = small.union(small.select(col("v").as("u"), col("u").as("v")))
        .distinct().localCheckpoint(true)
      // exact convergence test: the symmetric edge set is unchanged —
      // equal cardinality plus an empty one-sided anti-join implies set
      // equality (no checksum probabilism, one count + one anti-join per
      // round on the small checkpointed list). At convergence edges form
      // a star forest keyed by each component's minimum.
      val cnt = next.count()
      converged = cnt == prevCount &&
        next.join(edges, Seq("u", "v"), "left_anti").limit(1).count() == 0L
      prevCount = cnt
      edges = next
      it += 1
    }
    require(converged, s"connectedComponents: no fixpoint after $maxIter rounds")
    // star forest → labels: every node's minimum neighbor; centers label
    // themselves (their min neighbor is larger — catch with least(u, ...))
    edges.groupBy(col("u").as("node"))
      .agg(least(min(col("v")), col("u")).as("cluster"))
      .select(col("node"), col("cluster"))
  }

  /** Canonical-document dedup: from a corpus and its near-dup pair list,
    * keep exactly one document per connected duplicate cluster (the
    * minimum id — deterministic, engine-portable) plus every singleton.
    * This is the materialization step a training-data pipeline actually
    * ships: `corpus → pairs → clusters → kept corpus`.
    *
    * Scale shape: the cluster label table is |nodes-in-pairs| rows — tiny
    * next to the corpus — so the join back is a broadcast; the corpus
    * itself crosses no shuffle. */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("node", idCol)
    docs.join(broadcast(labels), Seq(idCol), "left")
      .where(col("cluster").isNull || col("cluster") === col(idCol))
      .drop("cluster")
  }

  /** [[dedupCorpus]] keeping the BEST document per cluster instead of the
    * minimum id: per cluster the doc maximizing `scoreCol` (ties to the
    * lowest id) survives — the representative-selection heuristic real
    * pipelines use (longest doc, highest quality score, freshest crawl).
    *
    * Scale shape: the winner per cluster is ONE `max_by` aggregation over
    * the (tiny) clustered slice — clustered doc ids semi-select from the
    * broadcast label table first, so the aggregation input is
    * |docs-in-clusters| rows, never the corpus; singletons stream through
    * the same broadcast left join as [[dedupCorpus]]. Deterministic:
    * `max_by` on a (score, −id) struct makes ties id-stable. */
  def dedupCorpusBest(docs: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("node", idCol)
    val joined = docs.join(broadcast(labels), Seq(idCol), "left")
    val winners = joined.where(col("cluster").isNotNull)
      .groupBy(col("cluster"))
      .agg(max_by(col(idCol),
        struct(col(scoreCol), -col(idCol))).as(idCol))
      .select(idCol)
    joined.where(col("cluster").isNull)
      .drop("cluster")
      .unionByName(docs.join(broadcast(winners), Seq(idCol), "left_semi"))
  }

  /** Duplicated-span detection — the exact-substring dedup SIGNAL of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): for each document, how many of its `n`-token windows
    * occur at least twice in the corpus, and the duplicated fraction.
    * Consumers drop or trim high-fraction docs (full span SURGERY needs
    * the suffix-array machinery of the paper; the per-doc signal is what
    * batch curation pipelines act on).
    *
    * Windows build in ONE native pass over the UTF-8 bytes
    * (TextHashExprs.TokenWindows) — the original HOF log-doubling build
    * (zip_with^log n + filter) paid an interpreted lambda call per
    * element per pass and dominated the query (3.8 s of a 4.7 s total at
    * sf0.1; the round-3/4 HOF lesson again).
    *
    * 100 TB shape: the exploded (id, window) rows are evaluated ONCE and
    * make exactly two shuffles — one keyed on xxhash64(window) to attach
    * each window's corpus occurrence count (a count-over-partition
    * window, no join back; the 8-byte hash replaces the n-token string
    * BEFORE the exchange, so window text never crosses the network — a
    * 64-bit collision can only INFLATE the duplicate signal, never lose
    * a duplicate, and at corpus cardinalities the probability is
    * ~n²/2⁶⁵), one doc-keyed aggregation folding both the window total
    * and the duplicated total in a single pass. At extreme scale also
    * frequency-prune like the LM. */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"window size $n must be >= 2")
    val wins = docs.select(col(idCol),
      explode(graft.functions.TextHashExprs
        .tokenWindows(lower(trim(col(textCol))), n)).as("_wt"))
      .select(col(idCol), xxhash64(col("_wt")).as("_w"))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("_w")
    val perDoc = wins
      .withColumn("_c", count(lit(1)).over(cw))
      .groupBy(idCol)
      .agg(count(lit(1)).as("_nw"),
        sum(when(col("_c") > 1, 1L).otherwise(0L)).as("_nd"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_nw"), lit(0L)).as("n_windows"),
        coalesce(col("_nd"), lit(0L)).as("n_dup"),
        round(coalesce(col("_nd"), lit(0L)).cast("double") /
          greatest(coalesce(col("_nw"), lit(0L)), lit(1L)).cast("double"),
          6).as("dup_frac"))
  }

  /** Exact-substring dedup SURGERY (the acting half of
    * [[duplicatedSpans]], after Lee et al. 2022): every corpus-duplicated
    * `n`-token window is CUT from the text — except its first occurrence
    * in (doc_id, position) order, which survives (the paper keeps one
    * copy of each duplicated span). A token is removed when any
    * non-keeper occurrence of a duplicated window covers it; documents
    * are rebuilt from their surviving tokens (single-space joined —
    * whitespace canonicalization is inherent to token surgery).
    *
    * Returns (idCol, n_tokens, n_removed, clean_text).
    *
    * 100 TB shape: four narrow shuffles — the window-keyed
    * count+first-occurrence window (rank and occurrence count in ONE
    * exchange, keyed on xxhash64(window) so the n-token strings are
    * replaced by 8-byte keys before the exchange; a 64-bit collision
    * can only cut MORE text — same first-occurrence-survives rule on
    * the merged class — never resurrect a duplicate, ~n²/2⁶⁵), a
    * (doc, pos) dedup of covered positions (duplicated windows only —
    * the duplicate MASS, small on a clean corpus), the coverage join,
    * and the per-doc rebuild. Document text crosses a shuffle only as
    * single tokens on the rebuild. */
  def removeDuplicatedSpans(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, s"window size $n must be >= 2")
    val lt = lower(trim(col(textCol)))
    // filter empties BEFORE posexplode: window start positions index the
    // byte-tokenizer's token stream (which never emits empties), so a
    // leading tab/newline — where split() yields one empty first token —
    // must not shift every position by one
    val toks = docs.select(col(idCol),
      posexplode(filter(graft.functions.TextHashExprs.wsSplit(lt),
        x => x =!= ""))
        .as(Seq("_pos", "_tk")))
    val wins = docs.select(col(idCol),
      posexplode(graft.functions.TextHashExprs.tokenWindows(lt, n))
        .as(Seq("_pos", "_wt")))
      .select(col(idCol), col("_pos"), xxhash64(col("_wt")).as("_w"))
    val pw = org.apache.spark.sql.expressions.Window.partitionBy("_w")
    val ow = pw.orderBy(col(idCol), col("_pos"))
    val covered = wins
      .withColumn("_c", count(lit(1)).over(pw))
      .withColumn("_rn", row_number().over(ow))
      .where(col("_c") > 1 && col("_rn") > 1)
      .select(col(idCol),
        explode(sequence(col("_pos"), col("_pos") + lit(n - 1))).as("_pos"))
      .dropDuplicates(idCol, "_pos")
      .withColumn("_cov", lit(1))
    val rebuilt = toks
      .join(covered, Seq(idCol, "_pos"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_cov").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          filter(array_sort(collect_list(struct(col("_pos"),
            col("_tk").as("_t"), col("_cov").isNotNull.as("_x")))),
            s => !s.getField("_x")),
          s => s.getField("_t")), " ").as("clean_text"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Content-defined chunking dedup signal — the storage-dedup angle
    * (LBFS/restic-style CDC, lifted to tokens): a token STARTS a new
    * chunk when its FNV hash lands in bucket 0 of `avgTokens`, so chunk
    * boundaries depend only on content, never on position. A span
    * shared by two documents therefore produces IDENTICAL interior
    * chunks even when its offset differs (insertions shift fixed
    * windows but not CDC boundaries). Returns per doc:
    * (idCol, n_chunks, n_dup_chunks, dup_frac) where a chunk is
    * duplicated when its md5 occurs >= 2 times corpus-wide.
    *
    * 100 TB shape: four narrow shuffles — the per-doc running-boundary
    * window (id-keyed), the chunk assembly groupBy, the digest-keyed
    * occurrence window (16-byte keys), and the per-doc rollup. Chunk
    * text crosses the shuffle once, as chunks. */
  def cdcChunkStats(docs: DataFrame, textCol: String, idCol: String,
      avgTokens: Int = 8): DataFrame = {
    require(avgTokens >= 2, s"avgTokens must be >= 2, got $avgTokens")
    // empties filtered BEFORE posexplode (same edge as
    // removeDuplicatedSpans: a leading tab must not shift positions)
    val toks = docs.select(col(idCol),
      posexplode(filter(graft.functions.TextHashExprs.wsTokens(col(textCol)),
        x => x =!= "")).as(Seq("_pos", "_tk")))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("_pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val withChunk = toks
      .withColumn("_b", when(graft.functions.TextHashExprs
        .fnvBucket(col("_tk"), avgTokens) === 0, 1L).otherwise(0L))
      .withColumn("_c", sum(col("_b")).over(wDoc))
    val chunks = withChunk
      .groupBy(col(idCol), col("_c"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("_pos"), col("_tk").as("_t")))),
        s => s.getField("_t")), " ").cast("binary")).as("_digest"))
    val wd = org.apache.spark.sql.expressions.Window.partitionBy("_digest")
    val perDoc = chunks
      .withColumn("_n", count(lit(1)).over(wd))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_n") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        round(coalesce(col("n_dup_chunks"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_chunks"), lit(0L)), lit(1L))
            .cast("double"), 6).as("dup_frac"))
  }

  /** Cross-document PARAGRAPH dedup (the RefinedWeb/CCNet sub-document
    * stage): a paragraph duplicated across the corpus survives only at
    * its first occurrence in (doc_id, position) order; every other copy
    * is cut, and each document is reassembled from its kept paragraphs.
    *
    * Returns (idCol, n_paras, n_kept, clean_text). Empty paragraphs
    * (split artifacts) are dropped before counting.
    *
    * 100 TB shape: explode to narrow (id, pos, md5) rows, ONE shuffle on
    * the 16-byte digest for the first-occurrence window, ONE shuffle on
    * the doc id to reassemble — no join anywhere. A pathological
    * paragraph duplicated millions of times makes one hot digest
    * partition; if that bites, pre-aggregate winners with
    * groupBy(digest).agg(min(struct(id, pos))) (partial-aggregatable)
    * and broadcast-join them back instead of the window. */
  /** C4-style boilerplate removal (Raffel et al. 2020): drop every
    * paragraph whose content appears in at least `minDocs` DISTINCT
    * documents — navigation chrome, cookie banners, footers — and
    * reassemble the survivors in order. Differs from
    * [[dedupParagraphs]] (first-occurrence-wins): boilerplate removal
    * keeps NO copy, and the trigger is cross-document breadth, not mere
    * repetition.
    *
    * Scale shape: paragraphs collapse to (digest, distinct-doc count)
    * via a partial+final aggregate; only digests crossing the threshold
    * survive the filter, and THAT table is boilerplate-sized (the whole
    * point is that few distinct paragraphs recur across many docs), so
    * it broadcast-anti-joins the paragraph stream map-side. Documents
    * made ENTIRELY of boilerplate disappear from the output (C4 drops
    * them too). */
  def stripBoilerplate(docs: DataFrame, textCol: String, idCol: String,
      minDocs: Long = 3L, sep: String = "\n\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val paras = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_pos", "_para")))
      .where(col("_para") =!= "")
      .withColumn("_digest", md5(col("_para").cast("binary")))
    val boiler = paras.groupBy(col("_digest"))
      .agg(count_distinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= minDocs).select("_digest")
    paras.join(broadcast(boiler), Seq("_digest"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras_kept"),
        array_sort(collect_list(struct(col("_pos"), col("_para"))))
          .as("_ps"))
      .withColumn("clean_text", array_join(
        transform(col("_ps"), s => s.getField("_para")), sep))
      .drop("_ps")
  }

  def dedupParagraphs(docs: DataFrame, textCol: String, idCol: String,
      sep: String = "\n\n"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_digest").orderBy(col(idCol), col("_pos"))
    docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_pos", "_para")))
      .where(col("_para") =!= "")
      .withColumn("_digest", md5(col("_para").cast("binary")))
      .withColumn("_keep", row_number().over(w) === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(struct(col("_pos"),
          when(col("_keep"), col("_para")).as("_p")))).as("_ps"))
      .withColumn("clean_text", array_join(
        transform(filter(col("_ps"), s => s.getField("_p").isNotNull),
          s => s.getField("_p")), sep))
      .drop("_ps")
  }
}

/** Minimal primitive long→long map for the driver union-find fast path:
  * open addressing, linear probing, power-of-two capacity sized for a
  * ≤ 0.5 load factor, `Long.MinValue` as the empty-slot sentinel (never a
  * document id in practice — rejected at put). No resize: capacity is
  * fixed from the known maximum entry count (2 nodes per edge). */
private[text] final class LongLongMap(expectedEntries: Int) {
  private val cap = java.lang.Integer.highestOneBit(
    math.max(16, expectedEntries * 2) - 1) << 1
  private val mask = cap - 1
  private val ks = Array.fill(cap)(Long.MinValue)
  private val vs = new Array[Long](cap)

  private def slot(k: Long): Int = {
    // Stafford-style multiply mix, folded to the table width
    var i = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
    while (ks(i) != Long.MinValue && ks(i) != k) i = (i + 1) & mask
    i
  }
  def put(k: Long, v: Long): Unit = {
    require(k != Long.MinValue, "Long.MinValue is the empty-slot sentinel")
    val i = slot(k); ks(i) = k; vs(i) = v
  }
  def getOrElse(k: Long, dflt: Long): Long = {
    val i = slot(k); if (ks(i) == k) vs(i) else dflt
  }
  def contains(k: Long): Boolean = ks(slot(k)) == k
  def foreachKey(f: Long => Unit): Unit = {
    var i = 0
    while (i < cap) { if (ks(i) != Long.MinValue) f(ks(i)); i += 1 }
  }
}
