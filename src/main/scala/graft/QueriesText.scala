package graft

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import graft.ops._
import graft.text.{Classifier, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._

/** Text tier of the driver-contract query surface (r14 hygiene split of
  * SparkEntry's single 10.7k-line file; zero behavior change). Each tier
  * object contributes a `q` (queries) and `sql` (DuckDB oracle) map;
  * `SparkEntry.queries`/`SparkEntry.oracleSql` concatenate the tiers.
  * Shared helpers stay on SparkEntry as `private[graft]`. */
private[graft] object QueriesText {

  def q: Map[String, Q] = Map(
    // --- text analysis ---------------------------------------------------
    "q_text_tokens" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
    }),
    "q_text_tokens_unicode" -> ((s, dir) => {
      // script-aware token counting (r13): a deterministic CJK suffix
      // (NFKC-identity characters only) makes the ws-vs-script-aware
      // divergence visible — each Han/kana/Hangul char counts as one
      // token, the remainder ws-tokenizes. Oracle replays the CJK
      // class via RE2 \p{Script} and the char tallies via
      // regexp_extract_all.
      val d = s.read.parquet(s"$dir/documents.parquet")
        .where(!col("text").rlike("[^\\x00-\\x7f]"))
      val suffix = elt((col("doc_id") % 3 + 1).cast("int"),
        lit(""),
        lit(" \u4e2d\u6587\u6e2c\u8a66\u7684\u53e5\u5b50"),
        lit(" \u30ab\u30bf\u30ab\u30ca\ud55c\uad6d\uc5b4 mixed"))
      val t = concat(col("text"), suffix)
      d.select(col("doc_id"),
        TextAnalysis.tokenCountWs(t).cast("long").as("n_ws"),
        TextAnalysis.tokenCountUnicode(t).as("n_tokens"))
    }),
    "q_text_quality" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
    }),
    "q_text_langid" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
    }),
    "q_text_langid_script" -> ((s, dir) => {
      // script-majority langid (r14): the r13 scriptCounts signal as a
      // prior over the stopword heuristic. Mixed-script corpus built
      // deterministically from the ASCII base — doc_id % 9 picks a
      // script run (empty for 0, exercising the ASCII fallback path
      // in-row, which is law-pinned bit-identical to q_text_langid's
      // labels); a 24-char ASCII head keeps the Latin count live so
      // the majority test is non-trivial. Counts replay in DuckDB via
      // RE2 \p{Script} classes (Java spells them \p{IsXxx}; membership
      // agrees on every character used here).
      val d = s.read.parquet(s"$dir/documents.parquet")
        .where(!col("text").rlike("[^\\x00-\\x7f]"))
      val run = elt((col("doc_id") % 9 + 1).cast("int"),
        lit(""),
        // ru: привет мир тест (13 Cyrillic)
        lit("привет мир" +
          " тест"),
        // zh: 中文測試×2 (8 Han)
        lit("中文測試中文測試"),
        // ja: ひらがなとカタカナ漢字 (9 kana + 2 Han)
        lit("ひらがなとカタカナ" +
          "漢字"),
        // ko: 한국어 테스트 한국어 (9 Hangul)
        lit("한국어 테스트 한국어"),
        // el: ελληνικά γλώσσα (14 Greek)
        lit("ελληνικά" +
          " γλώσσα"),
        // he: שלום עולם שלום (12 Hebrew)
        lit("שלום עולם" +
          " שלום"),
        // ar: اللغة العربية (12 Arabic)
        lit("اللغة العر" +
          "بية"),
        // hi: नमस्ते दुनिया (12 Devanagari incl. matras)
        lit("नमस्ते दुन" +
          "िया"))
      val t = when(run === "", col("text"))
        .otherwise(concat(substring(col("text"), 1, 24), lit(" "),
          repeat(run, 6)))
      d.select(col("doc_id"), t.as("_t"))
        .select(col("doc_id"), col("_t"),
          graft.functions.UnicodeExprs.scriptCounts(col("_t")).as("_sc"))
        .select(col("doc_id"),
          TextAnalysis.langIdScript(col("_t"), col("_sc")).as("lang_pred"))
    }),
    "q_text_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals: all map-side HOF/codegen exprs
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.repetitionSignals(d, "text", "doc_id")
    }),
    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: eval set = every 37th document; flag
      // corpus documents sharing any 5-gram shingle with the eval set
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.decontaminate(
        d.where(col("doc_id") % 37 =!= 0),
        d.where(col("doc_id") % 37 === 0),
        "text", "doc_id", shingleN = 5)
    }),
    "q_curation_pipeline" -> ((s, dir) => {
      // the end-to-end training-data curation DAG: quality + repetition
      // filters (map-side) → exact dedup (one digest shuffle) → NEAR-dup
      // cluster-canonical dedup (pair blocking → connected components →
      // keep the cluster minimum; the CC step eagerly materializes the
      // tiny pair graph, so this is one lazy DAG plus that bounded
      // materialization point) → leakage-safe grouped split (map-side
      // md5) → per-split token stats (partial+final agg). Every stage is
      // the oracled operator.
      // stages live in graft.text.Curation — ONE definition shared with
      // the process-graph surface, so q_graph_curation compiles a JSON
      // graph to this identical plan (checkpoint placement included)
      import graft.text.Curation
      val d = s.read.parquet(s"$dir/documents.parquet")
      val filtered = Curation.qualityGate(d, 0.75, 0.2)
      val deduped = Curation.dedupExactKeepMin(filtered)
      val canonical = Curation.nearDupCanonical(deduped,
        Seq("lang", "source"), shingleN = 3, threshold = 0.5)
      val split8 = Curation.groupedSplit(canonical,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Curation.tokenStats(split8, Seq("split", "lang"))
    }),
    "q_graph_curation" -> ((s, dir) => {
      // the SAME curation DAG driven through the reference's one query
      // language — the openEO JSON process graph. Each node compiles to
      // the shared graft.text.Curation stage, so this produces the
      // identical plan (checkpoints included) and the identical result
      // hash as q_curation_pipeline; the oracle is shared verbatim.
      import graft.compile.GraphCompiler
      val graph = """{
        "load": {"process_id": "load_table",
                 "arguments": {"id": "documents"}},
        "gate": {"process_id": "text_quality_gate", "arguments": {
          "data": {"from_node": "load"},
          "min_quality": 0.75, "max_repetition": 0.2}},
        "exact": {"process_id": "dedup_exact",
                  "arguments": {"data": {"from_node": "gate"}}},
        "near": {"process_id": "dedup_near", "arguments": {
          "data": {"from_node": "exact"},
          "blocking": ["lang", "source"],
          "shingle_n": 3, "threshold": 0.5}},
        "split": {"process_id": "split_grouped", "arguments": {
          "data": {"from_node": "near"},
          "fractions": {"train": 0.8, "val": 0.1, "test": 0.1}}},
        "stats": {"process_id": "token_stats", "arguments": {
          "data": {"from_node": "split"}, "by": ["split", "lang"]},
          "result": true}}"""
      new GraphCompiler(s, Map.empty,
          s"${System.getProperty("java.io.tmpdir")}/graft_curation_res",
          tables = Map("documents" -> s"$dir/documents.parquet"))
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_dedup_exact" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.exact(d, "text", "doc_id")
    }),
    "q_dedup_minhash" -> ((s, dir) => {
      // MinHash-LSH candidates, exact-Jaccard verified: at threshold 0.7
      // the planted dups (J≈0.99) are found with certainty, so the output
      // equals the all-pairs oracle
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.minhashLsh(d, "text", "doc_id", shingleN = 3, k = 32,
        bands = 8, threshold = 0.7)
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // the ingestion gate: near-dups between an incoming shard (docs
      // >= 400 plus 25 planted one-token-appended copies of kept docs)
      // and the kept reference corpus (docs < 400). Planted copies sit
      // at J ~= 0.99, so cross-side LSH recall is certain and the output
      // equals the all-pairs oracle
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ref = d.where(col("doc_id") < 400).select("doc_id", "text")
      val inc = d.where(col("doc_id") >= 400).select("doc_id", "text")
        .unionByName(d.where(col("doc_id") < 25)
          .select((col("doc_id") + lit(10000L)).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
      Dedup.minhashLshIncremental(ref, inc, "text", "doc_id")
    }),
    "q_dedup_indexed" -> ((s, dir) => {
      // the ingestion gate served from a PERSISTED index: the kept
      // corpus's band + shingle tables are written once
      // (writeMinhashIndex) and the same shard probes the store — the
      // corpus text is never re-shingled at serve time. Result is
      // identical to q_dedup_incremental; oracle shared verbatim.
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ref = d.where(col("doc_id") < 400).select("doc_id", "text")
      val inc = d.where(col("doc_id") >= 400).select("doc_id", "text")
        .unionByName(d.where(col("doc_id") < 25)
          .select((col("doc_id") + lit(10000L)).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_mhidx_$slug"
      Dedup.writeMinhashIndex(ref, "text", "doc_id", idx)
      Dedup.minhashIncrementalIndexed(s, idx, inc, "text", "doc_id")
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      // banded-simhash blocking over PORTABLE FNV-1a bigram hashes; the
      // blocking has exact recall to Hamming 6, so the oracle's all-pairs
      // formulation produces the identical pair set
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.simhashPairs(d, "text", "doc_id", maxDist = 6)
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      // blocked pairwise n-gram Jaccard (the non-LSH dedup variant):
      // blocking on (lang, source) bounds the pair space per group
      dedupPairsShared(s, dir)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),
    "q_simjoin_prefix" -> ((s, dir) => {
      // GLOBAL exact-Jaccard similarity join with NO blocking key: the
      // prefix-filter candidate join (PPJoin family) bounds the pair
      // space by shingle co-occurrence instead of O(block²) — the shape
      // that survives when one block holds most of the corpus. Perfect
      // recall by the prefix-filter theorem, so the oracle is the plain
      // all-pairs formulation.
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.ngramJaccardPairsPrefix(d, "text", "doc_id",
          shingleN = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),
    "q_dedup_sensitivity" -> ((s, dir) => {
      // threshold-sensitivity report: bucket the blocked-pair Jaccard
      // distribution at 0.1 width from a 0.3 floor and report per-bin
      // and at-or-above pair counts — the "how aggressive should the
      // dedup threshold be" audit. The histogram is ≤ 10 rows, so the
      // unpartitioned cumulative window is trivially bounded.
      val d = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id",
        Seq("lang", "source"), shingleN = 3, threshold = 0.3)
      val binned = pairs
        .select(floor(round(col("jaccard"), 6) * 10).cast("long").as("bin10"))
        .groupBy("bin10").agg(count(lit(1)).as("n_pairs"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bin10").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      binned.select(
        round(col("bin10").cast("double") / 10.0, 1).as("bin_lo"),
        col("n_pairs"),
        sum(col("n_pairs")).over(w).as("n_pairs_at_or_above"))
    }),
    "q_split_leakage" -> ((s, dir) => {
      // the leakage audit proves the property the grouped split exists
      // for: near-dup pairs live within (lang, source) blocks, the
      // grouped split keeps each block whole -> zero cross-split pairs;
      // the naive per-doc hash split demonstrably leaks on the same
      // pair list
      import graft.text.Sampling
      val d = s.read.parquet(s"$dir/documents.parquet")
      val pairs = dedupPairsShared(s, dir).select("id_a", "id_b")
      val grouped = Sampling.assignSplit(
          d.withColumn("grp", concat_ws("|", col("source"), col("lang"))),
          "grp", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
      val h = Sampling.portableHash(col("doc_id"))
      val naive = d.select(col("doc_id"),
        when(h < lit(1717986918L), "train")
          .when(h < lit(1932735283L), "val")
          .otherwise("test").as("split"))
      Sampling.splitLeakage(pairs, "id_a", "id_b", grouped,
          "doc_id", "split")
        .select(lit("grouped").as("mode"), col("n_pairs"), col("n_cross"))
        .unionByName(Sampling
          .splitLeakage(pairs, "id_a", "id_b", naive, "doc_id", "split")
          .select(lit("naive").as("mode"), col("n_pairs"), col("n_cross")))
    }),
    "q_boilerplate_strip" -> ((s, dir) => {
      // C4 rule: a footer injected into every third doc (>= 3 distinct
      // docs) is stripped from ALL of them; each doc's unique tail
      // paragraph survives. Only repeated paragraphs reach the
      // broadcast anti-join side
      val d = s.read.parquet(s"$dir/documents.parquet")
      val aug = d.select(col("doc_id"),
        concat(col("text"), lit("\n\n"),
          when(col("doc_id") % 3 === 0,
            lit("subscribe to our newsletter for daily updates"))
            .otherwise(concat(lit("unique tail "),
              col("doc_id").cast("string")))).as("text"))
      Dedup.stripBoilerplate(aug, "text", "doc_id", minDocs = 3L)
    }),
    "q_dedup_containment" -> ((s, dir) => {
      // asymmetric overlap: 30 interior excerpts (substr 50..249 of docs
      // 0..29, planted as new ids) are FOUND as contained-in-original at
      // containment ~1.0 — exactly the pairs Jaccard's union denominator
      // hides; natural near-dup pairs qualify too, and the oracle
      // replays both directions
      val d = s.read.parquet(s"$dir/documents.parquet")
      val aug = d.select("doc_id", "lang", "source", "text")
        .unionByName(d.where(col("doc_id") < 30)
          .select((col("doc_id") + lit(20000L)).as("doc_id"),
            col("lang"), col("source"),
            substring(col("text"), 50, 200).as("text")))
      Dedup.containmentPairs(aug, "text", "doc_id",
        Seq("lang", "source"), shingleN = 3, threshold = 0.8)
    }),
    "q_dedup_clusters" -> ((s, dir) => {
      // transitive closure of the near-dup pair list: alternating
      // large-star/small-star connected components (O(log n) rounds of
      // edge-list shuffles, no driver-side graph state); cluster label =
      // component minimum doc_id
      val pairs = dedupPairsShared(s, dir)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("cluster"))
    }),
    "q_dedup_corpus" -> ((s, dir) => {
      // the materialization a pipeline actually ships: keep the minimum
      // doc per duplicate cluster + every singleton; the cluster label
      // table is tiny next to the corpus, so the join back is broadcast
      // and the corpus itself never shuffles
      val d = s.read.parquet(s"$dir/documents.parquet")
      val pairs = dedupPairsShared(s, dir)
      Dedup.dedupCorpus(d, pairs, "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
    }),
    // --- similarity search over embeddings ------------------------------
    "q_ann_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.topKBruteForce(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),
    "q_margin_mine" -> ((s, dir) => {
      // margin-based pair mining (LASER/CCMatrix): a SHARD of source
      // vectors (even ids < 100 — the nightly mining batch) scores
      // against the odd-id corpus; margin = cos over the two sides'
      // half-averaged top-4 neighborhoods, so hub vectors with
      // uniformly-close neighborhoods stop over-selecting. All pairs
      // from either direction's top-4 report with their margins.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.marginMine(
        e.where(col("vec_id") % 2 === 0 && col("vec_id") < 100),
        e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4)
    }),
    "q_ann_topk_lsh" -> ((s, dir) => {
      // sign-LSH banding ANN; the seeded hyperplanes are embedded in the
      // oracle SQL as literals, so this is hash-matched end to end
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.topKLsh(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),
    "q_ann_topk_ivf" -> ((s, dir) => {
      // IVF coarse-quantizer ANN. The harness passes the 16 lowest-id
      // vectors as centroids (SQL-expressible, unlike the library default
      // xxhash sample) so the oracle can replicate assignment + probing.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val cents = e.orderBy("vec_id").limit(16)
        .select((row_number().over(w) - 1).cast("long").as("centroid_id"),
          col("embedding").as("_centroid"))
      Similarity.topKIvf(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
        centroidsOverride = Some(cents))
    }),
    "q_ann_index" -> ((s, dir) => {
      // PERSISTED IVF index, end-to-end: build writes centroids + the
      // assignment PARTITIONED by centroid_id; serving probes the tiny
      // centroid table and scans ONLY the probed cell directories
      // (partition pruning — pinned in PlanQualitySpec). Same params as
      // q_ann_topk_ivf ⇒ identical results; oracle shared verbatim.
      // The build is SHARED with q_ann_append/q_stream_ann (build once,
      // serve many — see [[buildIvfStore]]).
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = buildIvfStore(s, dir)
      Similarity.topKIvfStore(s, idx, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 4)
    }),
    "q_ann_retrain" -> ((s, dir) => {
      // DRIFT → REBUILD → ATOMIC SWAP (r11): the store re-trains from
      // its own vectors into a new `gen-N` sub-store, published by ONE
      // atomic marker create — serving resolves the generation once
      // per query (old or new in full, never a mix; law-pinned in
      // SimilaritySpec), appends land in the current generation, and
      // vacuumIvfStore retires the rest from a maintenance window.
      // Deterministic first-16 centroids here so the rebuild is
      // result-identical to the one-shot build — oracle shared
      // verbatim with q_ann_index; the swap mechanics are what this
      // row gates. The rebuild runs ON the shared ivfidx store (once
      // per JVM): by the same-centroids identity every other consumer
      // (q_ann_index/q_ann_append/q_stream_ann) reads the new
      // generation bit-identically — no second store build.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = buildIvfStore(s, dir)
      sharedBuild("ivfre", dir) { _ =>
        val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
        val cents = e.orderBy("vec_id").limit(16)
          .select((row_number().over(w) - 1).cast("long")
            .as("centroid_id"), col("embedding").as("_centroid"))
        Similarity.rebuildIvfStore(s, idx, nCentroids = 16,
          centroidsOverride = Some(cents))
        Similarity.vacuumIvfStore(s, idx)
        ()
      }
      Similarity.topKIvfStore(s, idx, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 4)
    }),
    "q_ann_drift" -> ((s, dir) => {
      // the RETRAIN TRIGGER: per-cell occupancy + ratio-to-mean over
      // the store's current generation, projection = the partition
      // column only (no vector bytes read) — a 100 TB store answers
      // "has the corpus drifted away from the centroids?" from
      // metadata-scale work.
      val idx = buildIvfStore(s, dir)
      Similarity.ivfStoreSkewReport(s, idx)
    }),
    "q_ann_append" -> ((s, dir) => {
      // INCREMENTAL index maintenance, end-to-end: the shared store IS
      // a base-half build plus an appended shard (assignment against the
      // FROZEN centroids, dynamic-partition append into the cell
      // directories — no rebuild; see [[buildIvfStore]]). Because
      // per-row argmin assignment is batch-invariant, the result is
      // identical to the one-shot build — oracle shared verbatim with
      // q_ann_topk_ivf/q_ann_index.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = buildIvfStore(s, dir)
      Similarity.topKIvfStore(s, idx, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 4)
    }),
    "q_ann_topk_pq" -> ((s, dir) => {
      // product-quantization ADC ANN: corpus → m=4 codes + one norm per
      // vector (nearest subspace centroid, literal-argmin projection);
      // query scores = LUT sums. Codebook from the 16 lowest-id rows so
      // the oracle can derive the identical centroids in SQL.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.topKPq(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 4, ksub = 16)
    }),
    "q_ann_index_pq" -> ((s, dir) => {
      // PQ-CODED persisted IVF store — what the persisted index holds
      // at 100 TB: m=4 residual codes + one norm per vector (~20 B vs
      // 4·d raw bytes), partitioned by coarse cell; serving probes the
      // collected centroids and scans ONLY the probed `_cid=`
      // directories (partition pruning + append ≡ rebuild against the
      // frozen centroids/codebooks are law-pinned in SimilaritySpec).
      // Same deterministic params as q_ann_topk_ivfpq ⇒ identical
      // scores; oracle shared verbatim.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = buildIvfPqStore(s, dir)
      Similarity.topKIvfPqStore(s, idx, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 4)
    }),
    "q_ann_topk_ivfpq" -> ((s, dir) => {
      // full IVF-PQ (residual ADC): coarse centroids = the 16 lowest-id
      // vectors (as q_ann_topk_ivf), residual codebook from the 16
      // lowest-id rows (as q_ann_topk_pq) — every constant table is
      // SQL-derivable, and every sum folds left-to-right, so the oracle
      // reproduces the residual formulation itself bit-for-bit (the ~1 ulp
      // divergence is only vs the FLAT dot, which this oracle never takes)
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val cents = e.orderBy("vec_id").limit(16)
        .select((row_number().over(w) - 1).cast("long").as("centroid_id"),
          col("embedding").as("_centroid"))
      Similarity.topKIvfPq(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
        m = 4, ksub = 16, centroidsOverride = Some(cents))
    }),
    "q_ann_recall_ivfpq" -> ((s, dir) => {
      // recall@5 of the IVF-PQ residual-ADC tier — the store shape a
      // 100 TB corpus actually serves — against exact brute force, per
      // query. Same params as q_ann_topk_ivfpq (nProbe=4, m=4, ksub=16),
      // so the approx side IS that row's chain verbatim; monotonicity in
      // nProbe is law-tested in SimilaritySpec.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.where(col("vec_id") < 10)
      val exact = Similarity.topKBruteForce(e, q, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val cents = e.orderBy("vec_id").limit(16)
        .select((row_number().over(w) - 1).cast("long").as("centroid_id"),
          col("embedding").as("_centroid"))
      val approx = Similarity.topKIvfPq(e, q, "vec_id", "embedding",
          k = 5, nCentroids = 16, nProbe = 4, m = 4, ksub = 16,
          centroidsOverride = Some(cents))
        .select(col("query_id").as("a_qid"),
          col("neighbor_id").as("a_nid"))
      exact.join(approx, col("query_id") === col("a_qid") &&
          col("neighbor_id") === col("a_nid"), "left")
        .groupBy("query_id")
        .agg(count(col("a_nid")).as("hits"))
        .withColumn("recall", col("hits").cast("double") / 5.0)
    }),
    "q_ann_topk_int8" -> ((s, dir) => {
      // int8 scalar-quantized serving tier: corpus stored as one float
      // scale + dim int8 codes (4× smaller), queries full-precision,
      // cosine over the reconstructed vectors — quantization round-trip
      // replayed exactly by the oracle
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.topKInt8(e, e.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),
    "q_knn_join" -> ((s, dir) => {
      // corpus-scale k-NN SELF-join: IVF cells as the blocking key, BOTH
      // sides shuffled on (cell, shard) — no broadcast of a corpus-scale
      // probe table — with the hot-cell salt hatch ENGAGED (saltFactor=2;
      // results are salt-invariant, which the oracle thereby verifies).
      // Lowest-id centroid convention as q_ann_topk_ivf so the oracle
      // replays assignment + probing bit-for-bit.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val cents = e.orderBy("vec_id").limit(16)
        .select((row_number().over(w) - 1).cast("long").as("centroid_id"),
          col("embedding").as("_centroid"))
      Similarity.knnJoinIvf(e, "vec_id", "embedding", k = 3,
        nCentroids = 16, nProbe = 4, centroidsOverride = Some(cents),
        saltFactor = 2)
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.cosineNearDupPairs(e, "vec_id", "embedding", threshold = 0.4)
    }),
    "q_embed_project" -> ((s, dir) => {
      // JL random projection 64 -> 16: portable LCG sign matrix, native
      // ordered dots against literal sign rows — a pure projection, no
      // shuffle; the oracle regenerates the matrix and replays the
      // ordered sums
      val d = s.read.parquet(s"$dir/embeddings.parquet")
      graft.text.Similarity.randomProject(d, "vec_id", "embedding",
        inDim = 64, outDim = 16)
    }),
    "q_semdedup" -> ((s, dir) => {
      // SemDeDup semantic dedup: coarse clusters = the 16 lowest-id
      // vectors (the SQL-derivable centroid convention of q_ann_topk_ivf,
      // so the oracle replays assignment + witness pairs bit-for-bit);
      // tau matches q_dedup_embedding's threshold
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val cents = e.orderBy("vec_id").limit(16)
        .select((row_number().over(w) - 1).cast("long").as("centroid_id"),
          col("embedding").as("_centroid"))
      Similarity.semDedup(e, "vec_id", "embedding", nClusters = 16,
        tau = 0.4, centroidsOverride = Some(cents))
    }),
    "q_pca_gram" -> ((s, dir) => {
      // the corpus-scale half of PCA: one-pass second-moment (Gram)
      // matrix via a bounded upper-triangle Aggregator — partial
      // aggregation reduces each task to ONE 2080-long row before the
      // single exchange; 1e-6 long-quantized products make the integer
      // sum exact under any partitioning
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.text.Pca.gramMatrix(e, "embedding", dim = 64)
    }),
    "q_pca_project" -> ((s, dir) => {
      // full PCA: Gram pass -> driver power-iteration eigensolve (top-2,
      // 8 fixed iterations, deflation) -> literal-matrix projection. The
      // oracle replays the ENTIRE pipeline — quantized Gram, every
      // iteration's ordered matrix-vector product and normalize, the
      // Rayleigh quotient, the deflation, and the projection — so the
      // eigensolve itself is hash-verified, not just the serving path.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.text.Pca.pcaProject(e, "vec_id", "embedding", dim = 64,
          k = 2, iters = 8)
        .select(col("vec_id"),
          posexplode(col("pc")).as(Seq("comp_idx", "pc_val")))
        .withColumn("pc_val", round(col("pc_val"), 6))
    }),
    "q_pca_whiten" -> ((s, dir) => {
      // PCA whitening: q_pca_project's literal projection with each
      // score divided by its replayed √λ — unit second moment per
      // retained direction. The oracle extends the full eigensolve
      // replay with the λ₁ Rayleigh CTE and divides the same doubles.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.text.Pca.pcaWhitenProject(e, "vec_id", "embedding", dim = 64,
          k = 2, iters = 8)
        .select(col("vec_id"),
          posexplode(col("wpc")).as(Seq("comp_idx", "wpc_val")))
        .withColumn("wpc_val", round(col("wpc_val"), 6))
    }),
    "q_d4_diversify" -> ((s, dir) => {
      // D4-style diversification: per-cluster prototypicality rank
      // (cosine to own centroid, 1e-9-quantized key), top 25% most
      // prototypical dropped. Same SQL-derivable lowest-id centroid
      // convention as q_semdedup so the oracle replays assignment,
      // proto score, and rank bit-for-bit.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val cents = e.orderBy("vec_id").limit(16)
        .select((row_number().over(w) - 1).cast("long").as("centroid_id"),
          col("embedding").as("_centroid"))
      Similarity.diversifyPrototypes(e, "vec_id", "embedding",
        nClusters = 16, dropFrac = 0.25, centroidsOverride = Some(cents))
    }),
    "q_bm25" -> ((s, dir) => {
      // BM25 keyword retrieval over the corpus (Lucene idf form); scores
      // are 1e-9-long-quantized per (doc, term) so DuckDB reproduces the
      // per-doc sums exactly. Session-shared run — see bm25RunShared.
      bm25RunShared(s, dir)
    }),
    "q_search_indexed" -> ((s, dir) => {
      // BM25 served from the PERSISTED inverted index: the corpus's
      // tokenization pass is paid once (writeSearchIndex — postings + df
      // tables partitioned by term-hash bucket, exact corpus stats), and
      // the query probes only its terms' bucket directories. Result is
      // identical to q_bm25; oracle shared verbatim. The build is
      // SHARED with q_search_append/q_stream_search (build once, serve
      // many — see [[buildSearchIndex]]).
      val idx = buildSearchIndex(s, dir)
      graft.text.Search.bm25Indexed(s, idx,
        Seq("spark", "merge", "window"))
    }),
    "q_search_append" -> ((s, dir) => {
      // incremental index maintenance: the shared store IS a base build
      // (doc_id < 400) plus an appended shard (disjoint ids; see
      // [[buildSearchIndex]]); stats/df rows are append-only segments
      // the serving path aggregates with exact long sums, so the
      // segmented store is result-identical to the one-shot build — and
      // to q_bm25. Oracle shared verbatim. (The TextSpec law covers the
      // multi-append sequence.)
      val idx = buildSearchIndex(s, dir)
      graft.text.Search.bm25Indexed(s, idx,
        Seq("spark", "merge", "window"))
    }),
    "q_search_topk" -> ((s, dir) => {
      // the production serving shape: top-20 of the BM25 run by
      // (score desc, id asc) — TakeOrderedAndProject, never a global
      // sort (plan-pinned); deterministic tie-break on both sides
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Search.topK(graft.text.Search.bm25(d, "text", "doc_id",
        Seq("spark", "merge", "window")), "doc_id", k = 20)
    }),
    "q_hybrid_search" -> ((s, dir) => {
      // HYBRID retrieval: the lexical BM25 run and a semantic cosine
      // run over the same corpus ids merge by RECIPROCAL-RANK FUSION —
      // rank-only fusion needs no cross-run score calibration, and the
      // two reciprocal terms add in fixed order so the fused score is
      // bit-reproducible (oracle replays both runs AND the fusion)
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val lex = bm25RunShared(s, dir)
        .select(lit(7L).as("query_id"), col("doc_id"), col("score"))
      val sem = Similarity.topKBruteForce(e, e.where(col("vec_id") === 7),
          "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("cos").as("score"))
      graft.text.Search.rrfFuse(lex, sem, "doc_id", "score",
        Seq("query_id"), k0 = 60, depth = 20)
    }),
    "q_retrieval_eval" -> ((s, dir) => {
      // ranking-quality metrics over the BM25 run — MRR + DCG@10/nDCG@10
      // with graded gain = distinct matched terms, "relevant" = ≥2 terms.
      // Discount literals are driver-computed and shared with the oracle
      // so no libm-vs-JVM log ulp can leak into the metric; DCG folds run
      // in rank order on both sides (array fold vs ordered SUM).
      graft.text.Search.rankingMetrics(bm25RunShared(s, dir), "doc_id",
        k = 10, relMinTerms = 2)
    }),
    "q_ann_recall" -> ((s, dir) => {
      // ANN index QUALITY row — recall@5 of the IVF index against the
      // exact brute-force top-5, per query. nProbe=2 (of 16 cells) so
      // probing misses are possible and the metric is non-trivial; the
      // lowest-id centroid convention keeps the oracle able to replay
      // assignment + probing exactly.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.where(col("vec_id") < 10)
      val exact = Similarity.topKBruteForce(e, q, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val cents = e.orderBy("vec_id").limit(16)
        .select((row_number().over(w) - 1).cast("long").as("centroid_id"),
          col("embedding").as("_centroid"))
      val approx = Similarity.topKIvf(e, q, "vec_id", "embedding", k = 5,
          nCentroids = 16, nProbe = 2, centroidsOverride = Some(cents))
        .select(col("query_id").as("a_qid"),
          col("neighbor_id").as("a_nid"))
      exact.join(approx, col("query_id") === col("a_qid") &&
          col("neighbor_id") === col("a_nid"), "left")
        .groupBy("query_id")
        .agg(count(col("a_nid")).as("hits"))
        .withColumn("recall", col("hits").cast("double") / 5.0)
    }),
    "q_top_ngrams" -> ((s, dir) => {
      // corpus-wide boilerplate detector: 20 most frequent 3-grams,
      // count ties broken by gram so the cut is deterministic
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Search.topNgrams(d, "text", n = 3, k = 20)
    }),
    "q_bpe_train" -> ((s, dir) => {
      // distributed BPE vocabulary training: the corpus collapses ONCE
      // to the weighted word table, then every merge iteration runs on
      // the vocab only. The 12-merge table IS the model; the oracle
      // replays the whole trajectory as generated unrolled SQL
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Bpe.trainMergesDf(d, "text", bpeMergeCount)
    }),
    "q_bpe_apply" -> ((s, dir) => {
      // tokenize under the learned merges (trained in-query) and count
      // subword tokens — apply is a map-side fold of literal replaces
      // over the word table
      val d = s.read.parquet(s"$dir/documents.parquet")
      val merges = graft.text.Bpe
        .trainMerges(d, "text", bpeMergeCount).map(_._2)
      graft.text.Bpe.applyMerges(d, "text", merges)
    }),
    "q_bpe_fertility" -> ((s, dir) => {
      // tokenizer-quality audit: occurrence-weighted subwords-per-word
      // by language under the learned merges — the oracle replays the
      // full training trajectory AND the per-language weighted ratio
      val d = s.read.parquet(s"$dir/documents.parquet")
      val merges = graft.text.Bpe
        .trainMerges(d, "text", bpeMergeCount).map(_._2)
      graft.text.Bpe.fertilityByGroup(d, "text", "lang", merges)
    }),
    "q_cap_domain" -> ((s, dir) => {
      // corpus balancing: keep at most 3 docs per (lang, source) cell,
      // preferring the longest, ties to the lowest doc_id
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.capPerGroup(d.select("doc_id", "lang", "source",
        "n_chars"), Seq("lang", "source"), col("n_chars"), "doc_id", 3)
    }),
    "q_hashed_classifier" -> ((s, dir) => {
      // distributed SPARSE logistic over hashed bag-of-tokens features
      // (hashing trick, dim=64): the weight table is a DataFrame keyed
      // by bucket — never a driver array — so the feature space can be
      // millions wide at corpus scale. The oracle replays both GD
      // iterations, including the FNV-1a bucket fold, as unrolled SQL
      // and must land on identical scores.
      // trained ONCE per session via [[classifierScoreShared]] (five
      // rows consume the identical trajectory; the oracle replays it)
      classifierScoreShared(s, dir)
        .select(col("doc_id"), col("y"), col("score"))
    }),
    "q_classifier_auc" -> ((s, dir) => {
      // model evaluation inside the pipeline: exact tie-aware
      // Mann-Whitney AUC of the trained hashed classifier against its
      // lang==en labels — 2x-scaled integer average ranks, one final
      // division; the oracle replays training AND the rank arithmetic
      Classifier.aucScore(classifierScoreShared(s, dir), "score", "y")
    }),
    "q_corpus_rollup" -> ((s, dir) => {
      // dataset-card slices at every granularity in ONE aggregation:
      // ROLLUP (lang, source) gives per-cell, per-lang and grand-total
      // rows from a single partial+final grouping-sets pass
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"),
          sum(TextAnalysis.tokenCountWs(col("text")).cast("long"))
            .as("n_tokens"))
    }),
    "q_classifier_auc_by_source" -> ((s, dir) => {
      // per-source gate quality: the rank window partitions by source,
      // so each source ranks its own bounded score table (no global
      // funnel); sources lacking both classes report NULL auc
      val d = s.read.parquet(s"$dir/documents.parquet")
      // the shared score table + a broadcast source lookup — identical
      // rows to carrying `source` through training
      val scored = classifierScoreShared(s, dir)
        .join(broadcast(d.select(col("doc_id"), col("source"))), "doc_id")
      Classifier.aucScoreBy(scored, "score", "y", Seq("source"))
    }),
    "q_classifier_pr" -> ((s, dir) => {
      // the gate's operating-point table: exact confusion counts +
      // precision/recall at five thresholds, one map-side fan-out pass
      Classifier.prAtThresholds(classifierScoreShared(s, dir),
        "score", "y", Seq(0.3, 0.45, 0.5, 0.55, 0.7))
    }),
    "q_classifier_calibration" -> ((s, dir) => {
      // the gate's reliability diagram: decile bins over the trained
      // scores, exact counts + quantized mean score vs empirical
      // positive rate — ONE aggregation to 10 rows; the oracle replays
      // training, scoring, and the binning arithmetic
      Classifier.calibrationBins(classifierScoreShared(s, dir),
        "score", "y", nBins = 10)
    }),
    "q_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights: target LM = the English slice, base LM =
      // the whole corpus; docs that look English-like score high. Both
      // trainings and the scoring are replayed by the oracle.
      // the session-shared DSIR weight table (one corpus explode, one
      // target + one base LM training, one scoring join — serving this
      // row, _resample and _select)
      dsirWeightsShared(s, dir)
    }),
    "q_contamination_report" -> ((s, dir) => {
      // benchmark-card contamination number: fraction of the eval
      // split's distinct 5-gram shingles present anywhere in train. The
      // corpus side only passes a broadcast semi-join — it never
      // shuffles its grams.
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.contaminationReport(
        d.where(col("doc_id") % 37 =!= 0),
        d.where(col("doc_id") % 37 === 0),
        "text", shingleN = 5)
    }),
    "q_dsir_resample" -> ((s, dir) => {
      // the RESAMPLING half of DSIR: importance weights → per-doc keep
      // probability min(1, exp(log_ratio)) decided by the portable id
      // hash — a pure filter over the weight table, nested-by-weight,
      // replayed exactly by the oracle (weights 1e-6-quantized first).
      val w = dsirWeightsShared(s, dir)
        .select(col("doc_id"), round(exp(col("log_ratio")), 6).as("w"))
      graft.text.Sampling.sampleByWeight(w, "doc_id", col("w"))
    }),
    "q_dsir_select" -> ((s, dir) => {
      // the acting half of DSIR: keep the top-50 documents by
      // importance weight, ties to the lowest id. orderBy+limit plans
      // as TakeOrderedAndProject — bounded per-partition heaps merged
      // on the driver, never a global sort (the same scale shape as
      // top-n-grams); the oracle is the weight replay ordered+limited.
      dsirWeightsShared(s, dir)
        .orderBy(col("log_ratio").desc, col("doc_id"))
        .limit(50)
    }),
    "q_sessionize" -> onCube(c =>
      // gap-based sessionization, batch form (StreamingSpec pins batch ==
      // flatMapGroupsWithState streaming on the same input)
      graft.streaming.StreamingOps.sessionizeBatch(c.df,
        gapMs = 30 * 60 * 1000L)),
    "q_sample_fraction" -> ((s, dir) => {
      // deterministic Bernoulli sample: pure filter on a portable LCG
      // hash — reproducible across engines/partitionings, no shuffle
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.sampleFraction(d, "doc_id", 0.25)
        .select("doc_id", "lang", "n_chars")
    }),
    "q_sample_stratified" -> ((s, dir) => {
      // exact-20-per-language sample via the bounded top-k aggregate
      // (map-side combine to <= n ids per stratum before the shuffle)
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.sampleStratified(d, Seq("lang"), "doc_id", 20)
        .select("doc_id", "lang", "n_chars")
    }),
    "q_split_grouped" -> ((s, dir) => {
      // leakage-safe 80/10/10 split: all docs of one (source, lang) group
      // land in the same split — md5-based, engine-reproducible
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.assignSplit(
          d.withColumn("grp", concat_ws("|", col("source"), col("lang"))),
          "grp", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "grp", "split")
    }),
    "q_pack_budget" -> ((s, dir) => {
      // deterministic pack planning: 16 KiB char-budget packs per
      // language over a reproducible (hash, id) order — all-integer
      // arithmetic, so the assignment is engine-exact
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Packing.packByBudget(d, Seq("lang"), "doc_id",
          "n_chars", 16384L)
        .select("doc_id", "lang", "n_chars", "pack_id")
    }),
    "q_multimodal_features" -> ((s, dir) => {
      // multimodal plumbing at scale: binary payload column (utf-8 bytes
      // of the docs as a stand-in blob), mapPartitions decode + feature
      // extraction, features exploded to scalar rows (rows-only check —
      // the fake codec is not oracle-expressible)
      import graft.multimodal.Multimodal
      val d = s.read.parquet(s"$dir/documents.parquet")
      val bin = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.featureExtract(Multimodal.decodeMeta(bin, "payload"),
          "payload", dim = 8)
        .select(col("doc_id"), col("meta.width").as("width"),
          round(col("mean_px"), 6).as("mean_px"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val").cast("double"), 6))
    }),
    "q_graph_multimodal" -> ((s, dir) => {
      // the multimodal tier through the JSON graph surface (r13):
      // load_table(documents) → encode_binary → image_decode →
      // image_features(dim 8) compiles to the exact decodeMeta →
      // featureExtract pipeline of q_multimodal_features; the final
      // posexplode/round projection is presentation, applied
      // identically. Oracle shared verbatim; process == API parity is
      // also spec-pinned in GraphCompilerSpec.
      import graft.compile.GraphCompiler
      val graph = """{
        "load": {"process_id": "load_table",
                 "arguments": {"id": "documents"}},
        "bin": {"process_id": "encode_binary", "arguments": {
          "data": {"from_node": "load"}}},
        "dec": {"process_id": "image_decode", "arguments": {
          "data": {"from_node": "bin"}}},
        "feat": {"process_id": "image_features", "arguments": {
          "data": {"from_node": "dec"}, "dim": 8}, "result": true}}"""
      new GraphCompiler(s, Map.empty,
          s"${System.getProperty("java.io.tmpdir")}/graft_mm_res",
          tables = Map("documents" -> s"$dir/documents.parquet"))
        .compile(graph).asInstanceOf[DataFrame]
        .select(col("doc_id"), col("meta.width").as("width"),
          round(col("mean_px"), 6).as("mean_px"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val").cast("double"), 6))
    }),
    "q_multimodal_real" -> ((s, dir) => {
      // REAL image bytes end-to-end: each doc's UTF-8 bytes tile a w×h
      // RGB image (w = 1+len%7, h = 1+len%5, pixel j = byte j%len), which
      // is written as a genuine bottom-up row-padded 24-bpp BMP and
      // parsed back through BmpCodec — a BGR-swap, row-order or padding
      // decode bug shifts every stat. The oracle replays the generative
      // pixel math from the hex of the text bytes (never parsing BMP).
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val bmp = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        .where(octet_length(col("tb")) >= 1)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val len = tb.length
          val w = 1 + len % 7; val h = 1 + len % 5
          val px = Array.tabulate[Byte](w * h * 3)(j => tb(j % len))
          (id, Multimodal.BmpCodec.encode(
            Multimodal.Decoded("bmp", w, h, 3, 1, px)))
        }.toDF("doc_id", "payload")
      Multimodal.featureExtract(
          Multimodal.decodeMeta(bmp, "payload", Multimodal.BmpCodec),
          "payload", dim = 6, codec = Multimodal.BmpCodec)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          round(col("mean_px"), 6).as("mean_px"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val").cast("double"), 6))
    }),
    "q_image_augment" -> ((s, dir) => {
      // augmentation over REAL bytes: generative BMP → horizontal flip
      // → 2×2 center crop, THREE codec round-trips, then the
      // position-weighted checksum (catches pixel permutations a mean
      // cannot) — all index arithmetic replayed by the oracle from
      // hex(text)
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val bmp = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        .where(octet_length(col("tb")) >= 1)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val len = tb.length
          val w = 1 + len % 7; val h = 1 + len % 5
          val px = Array.tabulate[Byte](w * h * 3)(j => tb(j % len))
          (id, Multimodal.BmpCodec.encode(
            Multimodal.Decoded("bmp", w, h, 3, 1, px)))
        }.toDF("doc_id", "payload")
      Multimodal.pixelChecksum(
          Multimodal.centerCrop(
            Multimodal.hflip(bmp, "payload", Multimodal.BmpCodec),
            "payload", 2, 2, Multimodal.BmpCodec),
          "payload", Multimodal.BmpCodec)
        .select("doc_id", "n_px", "wsum")
    }),
    "q_multimodal_resize" -> ((s, dir) => {
      // resize over REAL bytes: the generative BMP of q_multimodal_real
      // is nearest-neighbor downsampled to 2×2 (sy = ⌊y·h/2⌋ capped,
      // sx = ⌊x·w/2⌋ capped), re-encoded as BMP, and decoded again for
      // stats — TWO full codec round-trips plus the index math, all
      // replayed by the oracle from the source text bytes.
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val bmp = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        .where(octet_length(col("tb")) >= 1)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val len = tb.length
          val w = 1 + len % 7; val h = 1 + len % 5
          val px = Array.tabulate[Byte](w * h * 3)(j => tb(j % len))
          (id, Multimodal.BmpCodec.encode(
            Multimodal.Decoded("bmp", w, h, 3, 1, px)))
        }.toDF("doc_id", "payload")
      Multimodal.decodeMeta(
          Multimodal.resize(bmp, "payload", newW = 2, newH = 2,
            codec = Multimodal.BmpCodec),
          "payload", Multimodal.BmpCodec)
        .select(col("doc_id"), col("meta.width").as("width"),
          col("meta.height").as("height"),
          round(col("mean_px"), 6).as("mean_px"))
    }),
    "q_multimodal_wav" -> ((s, dir) => {
      // REAL audio bytes: doc bytes (truncated to an even count) are the
      // 8-bit sample plane of a stereo 16-bit PCM WAV (sample =
      // (b-128)<<8), written and re-parsed by WavCodec — the RIFF chunk
      // walk and little-endian sample decode map back to exactly the
      // source bytes, which the oracle reads directly from hex(text).
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val wav = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        // upper bound mirrors the oracle's generate_series(0, 4095): both
        // sides skip docs over 4096 bytes so a bigger SF can't desync them
        .where(octet_length(col("tb")) >= 2 &&
          octet_length(col("tb")) <= 4096)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val n = tb.length - (tb.length % 2)
          (id, Multimodal.WavCodec.encode(
            Multimodal.Decoded("wav", n / 2, 1, 2, 1, tb.take(n))))
        }.toDF("doc_id", "payload")
      Multimodal.featureExtract(
          Multimodal.decodeMeta(wav, "payload", Multimodal.WavCodec),
          "payload", dim = 4, codec = Multimodal.WavCodec)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("frames_per_ch"),
          col("meta.channels").as("channels"),
          round(col("mean_px"), 6).as("mean_px"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val").cast("double"), 6))
    }),
    "q_audio_features" -> ((s, dir) => {
      // audio ANALYSIS over real WAV bytes: the q_multimodal_wav
      // container round-trip, then per-32-sample-frame RMS energy +
      // zero-crossing rate — integer-exact frame sums, one sqrt + one
      // division of IEEE steps, replayed from hex(text) by the oracle
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val wav = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        .where(octet_length(col("tb")) >= 2 &&
          octet_length(col("tb")) <= 4096)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val n = tb.length - (tb.length % 2)
          (id, Multimodal.WavCodec.encode(
            Multimodal.Decoded("wav", n / 2, 1, 2, 1, tb.take(n))))
        }.toDF("doc_id", "payload")
      Multimodal.audioFrameFeatures(wav, "payload", frameLen = 32,
          codec = Multimodal.WavCodec)
        .select(col("doc_id"), col("frame_idx"), col("n_samples"),
          round(col("energy"), 6).as("energy"),
          round(col("zcr"), 6).as("zcr"))
    }),
    "q_multimodal_png" -> ((s, dir) => {
      // REAL compressed image bytes end-to-end: each doc's UTF-8 bytes
      // tile a w×h RGB image (w = 1+len%6, h = 1+len%4, pixel j = byte
      // j%len), written as a genuine zlib-deflated PNG whose scanline
      // filter cycles y%5 (all five filter types on the wire) and parsed
      // back through PngCodec — Inflater, chunk CRCs, and all five
      // filter reconstructions sit on the hash path. The oracle replays
      // the generative pixel math from hex(text), never parsing PNG.
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val png = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        .where(octet_length(col("tb")) >= 1)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val len = tb.length
          val w = 1 + len % 6; val h = 1 + len % 4
          val px = Array.tabulate[Byte](w * h * 3)(j => tb(j % len))
          (id, Multimodal.PngCodec.encode(
            Multimodal.Decoded("png", w, h, 3, 1, px)))
        }.toDF("doc_id", "payload")
      Multimodal.featureExtract(
          Multimodal.decodeMeta(png, "payload", Multimodal.PngCodec),
          "payload", dim = 5, codec = Multimodal.PngCodec)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          round(col("mean_px"), 6).as("mean_px"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val").cast("double"), 6))
    }),
    "q_multimodal_jpeg" -> ((s, dir) => {
      // REAL baseline JPEG end-to-end (r14): each doc's UTF-8 bytes form
      // a w×h grayscale tile (w = 1+len%5, h = 1+len%3, tile s = byte
      // s%len) that is expanded 8× per axis into flat 8×8 blocks — the
      // construction for which grayscale baseline JPEG with DC quant
      // step 8 is EXACTLY lossless (all AC coefficients are zero, DC is
      // a multiple of the step), so Huffman coding, byte stuffing,
      // dequantization, and the IDCT all sit on the hash path while the
      // oracle replays decoded-pixel stats from the generative bytes,
      // never parsing JPEG.
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val jpg = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        .where(octet_length(col("tb")) >= 1)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val len = tb.length
          val w = 1 + len % 5; val h = 1 + len % 3
          val wp = w * 8; val hp = h * 8
          val px = Array.tabulate[Byte](wp * hp) { j =>
            val s2 = (j / wp / 8) * w + (j % wp) / 8
            tb(s2 % len)
          }
          (id, Multimodal.JpegCodec.encode(
            Multimodal.Decoded("jpeg", wp, hp, 1, 1, px)))
        }.toDF("doc_id", "payload")
      Multimodal.featureExtract(
          Multimodal.decodeMeta(jpg, "payload", Multimodal.JpegCodec),
          "payload", dim = 5, codec = Multimodal.JpegCodec)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          round(col("mean_px"), 6).as("mean_px"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val").cast("double"), 6))
    }),
    "q_multimodal_jpeg_color" -> ((s, dir) => {
      // COLOR baseline JPEG end-to-end (r14): per doc, a wb×hb grid of
      // flat 8×8 RGB blocks (block s takes channel bytes (3s, 3s+1,
      // 3s+2) mod len) encoded 4:4:4. Flat blocks make every YCbCr
      // plane DCT-lossless, so the only transform the decode output
      // sees is the integer RGB→YCbCr→RGB chain — round-half-up
      // (floor(x+0.5)), which DuckDB replays literally. Huffman, byte
      // stuffing, the 3-component MCU interleave, dequant, and IDCT all
      // sit on the hash path.
      import graft.multimodal.Multimodal
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val jpg = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
        .where(octet_length(col("tb")) >= 1)
        .as[(Long, Array[Byte])]
        .map { case (id, tb) =>
          val len = tb.length
          val wb = 1 + len % 4; val hb = 1 + len % 2
          val wp = wb * 8; val hp = hb * 8
          val px = Array.tabulate[Byte](wp * hp * 3) { j =>
            val i = j / 3; val c = j % 3
            val blk = (i / wp / 8) * wb + (i % wp) / 8
            tb((blk * 3 + c) % len)
          }
          (id, Multimodal.JpegCodec.encode(
            Multimodal.Decoded("jpeg", wp, hp, 3, 1, px)))
        }.toDF("doc_id", "payload")
      Multimodal.featureExtract(
          Multimodal.decodeMeta(jpg, "payload", Multimodal.JpegCodec),
          "payload", dim = 5, codec = Multimodal.JpegCodec)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.channels").as("channels"),
          round(col("mean_px"), 6).as("mean_px"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val").cast("double"), 6))
    }),
    "q_chunk_tokens" -> ((s, dir) => {
      // context-length chunking: 32-token chunks, remainder in the last
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Packing.chunkByTokens(d, "text", "doc_id", maxTokens = 32)
    }),
    "q_interleave" -> ((s, dir) => {
      // dataset mixing: web-like (en) kept at 80%, code-like (the rest)
      // at 25%, tagged with provenance, in deterministic hash order
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.interleaveSources(Seq(
          (d.where(col("lang") === "en"), 0.8, "web"),
          (d.where(col("lang") =!= "en"), 0.25, "code")), "doc_id")
        .select("doc_id", "lang", "mix_source")
    }),
    "q_dedup_corpus_best" -> ((s, dir) => {
      // representative selection: keep the LONGEST doc per near-dup
      // cluster (ties to lowest id) instead of the minimum id
      val d = s.read.parquet(s"$dir/documents.parquet")
      val pairs = dedupPairsShared(s, dir)
      Dedup.dedupCorpusBest(d, pairs, "doc_id", "n_chars")
        .select("doc_id", "lang", "source", "n_chars")
    }),
    "q_shuffle_order" -> ((s, dir) => {
      // deterministic global training order: LCG-hash rank, engine-
      // portable (same arithmetic as q_sample_fraction), dense ordinal
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.shuffleDeterministic(d, "doc_id",
          withOrdinal = true)
        .select("ord", "doc_id", "lang")
    }),
    "q_shuffle_order_scalable" -> ((s, dir) => {
      // the SAME training order through the distributed ordinal path
      // (range sort + per-partition offsets, no one-partition window) —
      // the 100 TB formulation, verified against the identical oracle
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.shuffleDeterministicOrdinals(
          d.select("doc_id", "lang"), "doc_id")
        .select("ord", "doc_id", "lang")
    }),
    "q_corpus_report" -> ((s, dir) => {
      // the dataset-card statistics pass: per (lang, source) totals,
      // exact token percentiles, mean tokens, char envelope
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.corpusReport(d, "text", Seq("lang", "source"))
    }),
    "q_rollup" -> ((s, dir) => {
      // OLAP subtotal surface: ROLLUP over (returnflag, linestatus)
      // with exact decimal sums. PRE-AGGREGATE to the base grouping
      // first (one partial+final pass over the fact table), then roll
      // the ~10-row aggregate up — Expand multiplies 10 rows by the
      // grouping-set count instead of the whole fact stream (measured
      // 3.1 → 0.8 s at sf0.1). Decimal addition is exactly associative,
      // so re-aggregating the decimal partials and casting to double
      // ONCE at the end is bit-identical to the single-level rollup.
      // GROUPING() flags distinguish subtotal NULLs from data NULLs.
      val pre = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_q"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))).as("_r"),
          count(lit(1)).as("_n"))
      pre.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_q")).cast("double").as("sum_qty"),
          sum(col("_r")).cast("double").as("revenue"),
          sum(col("_n")).as("n_rows"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
    }),
    "q_drift_report" -> ((s, dir) => {
      // distribution drift between two corpus snapshots (even vs odd
      // doc ids): KL(new‖old) + total variation over add-0.5-smoothed
      // unigram distributions on the union vocabulary; contributions
      // 1e-9-long-quantized so the sums are order-free
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.distributionDrift(
        d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1), "text")
    }),
    "q_text_entropy" -> ((s, dir) => {
      // per-doc character entropy (bits): the randomness quality signal
      // — low = boilerplate, very high = binary junk; 1e-9-quantized
      // contributions so the per-doc fold is order-free
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.charEntropy(d, "text", "doc_id")
    }),
    "q_graph_drift" -> ((s, dir) => {
      // the drift audit driven through the JSON graph surface:
      // load_table ×2 + distribution_drift compile to the identical
      // plan as q_drift_report's Scala call; oracle shared verbatim
      import graft.compile.GraphCompiler
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_drift_$slug"
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.where(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/snap_old")
      d.where(col("doc_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$tmp/snap_new")
      val graph = """{
        "o": {"process_id": "load_table", "arguments": {"id": "snap_old"}},
        "n": {"process_id": "load_table", "arguments": {"id": "snap_new"}},
        "d": {"process_id": "distribution_drift", "arguments": {
          "old": {"from_node": "o"}, "new": {"from_node": "n"}},
          "result": true}}"""
      new GraphCompiler(s, Map.empty, tmp + "_res",
          tables = Map("snap_old" -> s"$tmp/snap_old",
            "snap_new" -> s"$tmp/snap_new"))
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_graph_bm25" -> ((s, dir) => {
      // keyword retrieval driven through the JSON graph surface:
      // load_table + bm25 compile to the identical plan as q_bm25's
      // Scala call; oracle shared verbatim
      import graft.compile.GraphCompiler
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_gbm25_$slug"
      val graph = """{
        "d": {"process_id": "load_table", "arguments": {"id": "documents"}},
        "s": {"process_id": "bm25", "arguments": {
          "data": {"from_node": "d"},
          "terms": ["spark", "merge", "window"]},
          "result": true}}"""
      new GraphCompiler(s, Map.empty, tmp + "_res",
          tables = Map("documents" -> s"$dir/documents.parquet"))
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_drift_movers" -> ((s, dir) => {
      // the actionable half: top-20 tokens by smoothed-probability move
      // (TakeOrderedAndProject over the joined Zipf-sized count table)
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.driftTopMovers(
        d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1), "text", k = 20)
    }),
    "q_cms_freq" -> ((s, dir) => {
      // fixed-memory token-frequency estimation: 4x1024 count-min sketch
      // over corpus tokens, probed for five present tokens and one
      // absent — all-integer arithmetic, engine-exact with no rounding;
      // sketch state is d*w cells no matter the vocabulary
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sketches.cmsFrequencyTokens(d, "text",
        Seq("join", "hash", "filter", "scan", "the", "qzxv"))
    }),
    "q_hll_distinct" -> ((s, dir) => {
      // fixed-memory vocabulary estimate per language: portable 2048-
      // register HLL over whitespace tokens — the only shuffle carries
      // <= |langs| x 2048 register rows no matter the corpus size; the
      // oracle replays hash, registers and the exact-integer harmonic
      // sum in SQL
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sketches.hllDistinctTokens(d, "text", Seq("lang"))
    }),
    "q_temperature_mix" -> ((s, dir) => {
      // mT5-style alpha-temperature source mixing (alpha=0.5, target 200
      // docs): per-source rates from one tiny count aggregation, keep
      // decided by the portable LCG hash — the sample is a pure filter
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Sampling.temperatureSample(d, "source", "doc_id",
          alpha = 0.5, target = 200L)
        .select("doc_id", "source", "lang")
    }),
    "q_unimax_mix" -> ((s, dir) => {
      // UniMax water-filling budget allocation (Chung et al. 2023) over
      // a deliberately skewed source tiering (the fixture's natural
      // sources are uniform): two synthetic head/mid tiers plus the
      // natural tail sources. At sf0.01 the ~20 tail sources fit their
      // equal share and are kept WHOLE while head and mid split the
      // leftover equally — the fairness property temperature mixing
      // lacks; the oracle replays the integer cutoff and shared share.
      val d = s.read.parquet(s"$dir/documents.parquet")
      val skewed = d.withColumn("mix_src",
        when(col("doc_id") < 300, "head")
          .when(col("doc_id") < 450, "mid")
          .otherwise(col("source")))
      graft.text.Sampling.unimaxSample(skewed, "mix_src", "doc_id",
          budget = 120L)
        .select("doc_id", "mix_src", "lang")
    }),
    "q_graph_mix" -> ((s, dir) => {
      // a second graph-surface composition: UniMax budget mixing →
      // per-(lang, source) cap → per-language stats, driven end-to-end
      // by JSON; the oracle replays water-filling, the TopKAgg-pruned
      // cap (bit-identical to the rank window), and the token stats.
      import graft.compile.GraphCompiler
      val graph = """{
        "load": {"process_id": "load_table",
                 "arguments": {"id": "documents"}},
        "mix": {"process_id": "sample_unimax", "arguments": {
          "data": {"from_node": "load"}, "budget": 120}},
        "cap": {"process_id": "cap_per_group", "arguments": {
          "data": {"from_node": "mix"}, "group_columns": ["lang", "source"],
          "score_column": "n_chars", "k": 3}},
        "stats": {"process_id": "token_stats", "arguments": {
          "data": {"from_node": "cap"}, "by": ["lang"]}, "result": true}}"""
      new GraphCompiler(s, Map.empty,
          s"${System.getProperty("java.io.tmpdir")}/graft_mix_res",
          tables = Map("documents" -> s"$dir/documents.parquet"))
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_graph_diversify" -> ((s, dir) => {
      // the embedding tier through the openEO JSON graph surface:
      // load_table(embeddings) → diversify_prototypes, compiling to the
      // identical plan as q_d4_diversify (shared oracle)
      import graft.compile.GraphCompiler
      val graph = """{
        "load": {"process_id": "load_table",
                 "arguments": {"id": "embeddings"}},
        "div": {"process_id": "diversify_prototypes", "arguments": {
          "data": {"from_node": "load"}, "n_clusters": 16,
          "drop_frac": 0.25}, "result": true}}"""
      new GraphCompiler(s, Map.empty,
          s"${System.getProperty("java.io.tmpdir")}/graft_div_res",
          tables = Map("embeddings" -> s"$dir/embeddings.parquet"))
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_graph_knn" -> ((s, dir) => {
      // the k-NN self-join through the openEO JSON graph surface:
      // load_table(embeddings) → knn_join (salted), compiling to the
      // identical plan as q_knn_join (shared oracle)
      import graft.compile.GraphCompiler
      val graph = """{
        "load": {"process_id": "load_table",
                 "arguments": {"id": "embeddings"}},
        "knn": {"process_id": "knn_join", "arguments": {
          "data": {"from_node": "load"}, "k": 3, "n_centroids": 16,
          "n_probe": 4, "salt_factor": 2}, "result": true}}"""
      new GraphCompiler(s, Map.empty,
          s"${System.getProperty("java.io.tmpdir")}/graft_knn_res",
          tables = Map("embeddings" -> s"$dir/embeddings.parquet"))
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_unimax_epochs" -> ((s, dir) => {
      // the data-constrained regime: UniMax with an epoch cap of 3 —
      // small tail sources UP-SAMPLE (all 3 epochs), the big tiers get
      // fractional sub-epoch allocations; rows multiply map-side via
      // explode(sequence), no shuffle. The oracle replays the capacity
      // water-filling, the per-source whole/fractional copy counts, and
      // the lateral row multiplication.
      val d = s.read.parquet(s"$dir/documents.parquet")
      val skewed = d.withColumn("mix_src",
        when(col("doc_id") < 300, "head")
          .when(col("doc_id") < 450, "mid")
          .otherwise(col("source")))
        .select("doc_id", "mix_src", "lang")
      graft.text.Sampling.unimaxSampleEpochs(skewed, "mix_src", "doc_id",
        budget = 400L, maxEpochs = 3L)
    }),
    "q_text_normalize" -> ((s, dir) => {
      // normalization rules exercised on synthetically-noised input
      // (tabs, BEL, newlines, runs of spaces appended to each doc) —
      // the corpus itself is clean, so noise injection is what makes
      // this a real test of the control-char + collapse rules
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        TextAnalysis.normalizeText(
          concat(col("text"), lit("\t  mixed \u0007 tail\n\n"))).as("norm"))
        .withColumn("n_norm", length(col("norm")))
    }),
    "q_text_unicode" -> ((s, dir) => {
      // Unicode normalization tier (round 13): each doc gets a
      // deterministic multilingual suffix (ligature, fullwidth forms,
      // enclosed digit, superscript, a combining sequence, Devanagari/
      // Cyrillic/Greek/CJK/kana/Hangul/Hebrew/Arabic runs, ZWSP, NBSP,
      // ideographic space, a control char). normalizeUnicode
      // NFKC-folds + category-strips, scriptCounts profiles the
      // result. The oracle replays NFKC via replace() over exactly
      // this character set (the base corpus is ASCII — enforced by the
      // filter, so the unicode delta is the suffix alone) and the
      // script counts via RE2 \p{Script} classes, which agree with
      // Java's Character.UnicodeScript on every character used here.
      val d = s.read.parquet(s"$dir/documents.parquet")
        .where(!col("text").rlike("[^\\x00-\\x7f]"))
      val suffix = elt((col("doc_id") % 6 + 1).cast("int"),
        lit("\ufb01nance \u2460"),
        lit("\uff26\uff55\uff4c\uff4c x\u00b2"),
        lit("e\u0301clair \u0928\u092e\u0938\u094d\u0924\u0947"),
        lit("\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440" +
          " \u03b1\u03b2\u03b3"),
        lit("\u4e2d\u6587\u6e2c\u8a66 \u30ab\u30bf\u30ab\u30ca" +
          " \u3072\u3089\u304c\u306a"),
        lit("\ud55c\uad6d\uc5b4 \u05e9\u05dc\u05d5\u05dd" +
          " \u0639\u0631\u0628\u0649\u200bz\u00a0\u3000end\u0007"))
      val norm = TextAnalysis.normalizeUnicode(
        concat(col("text"), lit(" "), suffix))
      // project the 9-field ScriptCounts struct ONCE, then pull fields
      // from the materialized column: interpreted projections get no
      // subexpression elimination, so 9 inline getField copies would
      // re-scan the full text 9× per row (round-13 advice)
      d.select(col("doc_id"), norm.as("norm_text"))
        .select(col("doc_id"), col("norm_text"),
          graft.functions.UnicodeExprs.scriptCounts(col("norm_text"))
            .as("_sc"))
        .select(col("doc_id"), col("norm_text"),
          col("_sc.latin").as("n_latin"),
          col("_sc.cyrillic").as("n_cyrillic"),
          col("_sc.han").as("n_han"),
          col("_sc.arabic").as("n_arabic"),
          col("_sc.devanagari").as("n_devanagari"),
          col("_sc.hangul").as("n_hangul"),
          col("_sc.kana").as("n_kana"),
          col("_sc.greek").as("n_greek"),
          col("_sc.hebrew").as("n_hebrew"))
    }),
    "q_curation_pipeline_v2" -> ((s, dir) => {
      // round-4 composition DAG — the sub-document-hygiene pipeline:
      // inject (email + cross-doc shared paragraph, as the standalone
      // queries do) → PII redaction → Gopher-lite gate (length +
      // stopword presence) → cross-doc paragraph dedup → LM perplexity
      // gate (train on the cleaned corpus, drop high-NLL docs) →
      // per-language stats. Every stage is the oracled operator.
      import graft.text.LanguageModel
      val d = s.read.parquet(s"$dir/documents.parquet")
      val seed = d.where(col("doc_id") < 50)
        .select(col("doc_id").as("sid"),
          substring(col("text"), 1, 100).as("shared"))
      val docs = d.join(broadcast(seed), col("doc_id") % 50 === col("sid"))
        .select(col("doc_id"), col("lang"),
          concat_ws("\n\n",
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com")),
            col("shared")).as("text2"))
      val redacted = TextAnalysis.piiPatterns.foldLeft(col("text2")) {
        case (acc, (_, pat, repl)) => regexp_replace(acc, pat, repl)
      }
      // checkpoint the REDACTED projection before the gate, not after:
      // the gate's word/stopword conditions derive from `rtext`, and
      // Catalyst pushes a deterministic filter below the projection —
      // which re-evaluates the triple-regex chain once in the Filter and
      // once in the Project (measured 3.9 s vs 1.2 s for this stage at
      // sf0.1). Materializing first runs the regexes exactly once; the
      // gate then reads checkpointed bytes.
      val stage1 = docs.withColumn("rtext", redacted)
        .select(col("doc_id"), col("lang"), col("rtext"))
        .localCheckpoint(true)
      val words = graft.functions.TextHashExprs.wsSplit(trim(col("rtext")))
      val stopsPresent = size(filter(
        array(TextAnalysis.gopherStops.map(lit): _*),
        w => array_contains(words, w)))
      // this corpus's vocabulary carries only 'the' from the Gopher stop
      // set — presence >= 1 keeps the gate meaningful without zeroing it
      // second barrier: `gated` feeds BOTH the paragraph-dedup input and
      // the lang join below; checkpointing the (narrow) survivor slice
      // spares each consumer the re-run of the gate split
      val gated = stage1.where(size(words) >= 50 && stopsPresent >= 1)
        .localCheckpoint(true)
      // second fan-out: `cleaned` feeds LM training, LM scoring, and the
      // final stats (same pattern as v1's deduped checkpoint)
      val cleaned = Dedup.dedupParagraphs(
          gated.select(col("doc_id"), col("rtext")), "rtext", "doc_id")
        .join(gated.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(true)
      // train + score share ONE bigram explode of the cleaned corpus
      val grams = cleaned.select(col("doc_id"),
          explode(LanguageModel.bigrams(col("clean_text"))).as("gram"))
        .localCheckpoint(true)
      val lm = LanguageModel.trainBigramLmFromGrams(grams)
      val keep = LanguageModel
        .scoreBigramLmFromGrams(grams, lm, "doc_id")
        .where(col("avg_nll") <= 3.4).select("doc_id")
      cleaned.join(keep, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCountWs(col("clean_text")).cast("long"))
            .as("n_tokens"))
    }),
    "q_lm_perplexity" -> ((s, dir) => {
      // CCNet-style perplexity filter: train the corpus bigram LM, score
      // every doc by average negative log-likelihood under it. Training
      // + scoring both replayed by the oracle; per-bigram log terms are
      // long-quantized at 1e-9 so the per-doc sum is engine-exact.
      // the session-shared gram stream + LM (also q_stream_lm_score's
      // served model and DSIR's base LM)
      graft.text.LanguageModel.scoreBigramLmFromGrams(
        corpusGramsShared(s, dir), corpusBigramLmShared(s, dir), "doc_id")
    }),
    "q_lm_backoff" -> ((s, dir) => {
      // stupid-backoff trigram LM (Brants 2007): trigram→bigram→unigram
      // count chain with α=0.4 per backoff level, OOV floor α²/N. Three
      // Zipf-sized tables, three left hash joins of one exploded trigram
      // stream, 1e-9 long-quantized terms — training AND the full
      // backoff cascade replayed by the oracle.
      val d = s.read.parquet(s"$dir/documents.parquet")
      val lm = graft.text.LanguageModel.trainBackoffLm(d, "text")
      graft.text.LanguageModel.scoreBackoffLm(d, lm, "text", "doc_id")
    }),
    "q_sql_surface" -> ((s, dir) => {
      // the pure-SQL front door: GraftExtensions registers every native
      // graft_* expression in the session FunctionRegistry (the same
      // payloads spark.sql.extensions=graft.GraftExtensions injects at
      // session build), and the query is driven ENTIRELY through SQL
      // text — no Column API. Resolves to the identical codegen
      // expressions, which the oracle's FNV-1a/ordered-sum replays prove.
      graft.GraftExtensions.registerAll(s)
      s.read.parquet(s"$dir/documents.parquet")
        .createOrReplaceTempView("documents_sql")
      s.read.parquet(s"$dir/embeddings.parquet")
        .createOrReplaceTempView("embeddings_sql")
      s.sql("""SELECT d.doc_id,
                 graft_fnv_bucket(lower(trim(d.text)), 64) AS bucket,
                 round(graft_dot(e.embedding, e.embedding), 6) AS self_dot
               FROM documents_sql d
               JOIN embeddings_sql e ON e.vec_id = d.doc_id""")
    }),
    "q_curation_pipeline_v3" -> ((s, dir) => {
      // round-4 model-based SELECTION DAG: sparse hashed-classifier
      // quality gate (trained in-pipeline) → DSIR target-domain
      // weighting (both LMs trained on the GATED corpus) → per-domain
      // cap → per-language stats. Every stage is the oracled operator;
      // the oracle replays the full trajectory including both trainings.
      import graft.text.{LanguageModel, Sampling}
      val d = s.read.parquet(s"$dir/documents.parquet")
      // gate 1 reads the session-shared classifier score table (the
      // identical training trajectory — see classifierScoreShared)
      val gate1 = classifierScoreShared(s, dir)
        .where(col("score") >= 0.5).select("doc_id")
      // fan-out: kept1 feeds the gram explode AND the final joins
      val kept1 = d.join(gate1, "doc_id").localCheckpoint(true)
      val grams = kept1.select(col("doc_id"), col("lang"),
          explode(LanguageModel.bigrams(col("text"))).as("gram"))
        .localCheckpoint(true)
      val lmT = LanguageModel
        .trainBigramLmFromGrams(grams.where(col("lang") === "en"))
      val lmB = LanguageModel.trainBigramLmFromGrams(grams)
      val gate2 = LanguageModel
        .importanceWeightsFromGrams(grams, lmT, lmB, "doc_id")
        .where(col("log_ratio") >= -8.0).select("doc_id")
      val capped = Sampling.capPerGroup(
        kept1.join(gate2, "doc_id")
          .select("doc_id", "lang", "source", "n_chars"),
        Seq("lang", "source"), col("n_chars"), "doc_id", 5)
      capped.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),
    "q_quality_classifier" -> ((s, dir) => {
      // trainable quality scorer: 3 rounds of distributed full-batch
      // logistic GD (rational link, long-quantized gradients — see
      // Classifier's scaladoc) on two cheap features, label = lang==en;
      // then score the corpus. The oracle replays the entire training
      // trajectory as unrolled SQL and must land on the same weights.
      val d = s.read.parquet(s"$dir/documents.parquet")
      val words = size(graft.functions.TextHashExprs
        .wsSplit(trim(col("text")))).cast("double")
      val padded = concat(lit(" "), col("text"), lit(" "))
      val stops = graft.functions.TextHashExprs.countAnyOf(padded,
          Seq(" the ", " and ", " of ", " with "))
        .cast("double")
      val feats = d.select(col("doc_id"),
        (length(col("text")).cast("double") /
          greatest(words, lit(1.0))).as("f_mwl"),
        (stops / greatest(words, lit(1.0))).as("f_stop"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      val w = Classifier.trainLogistic(feats, Seq("f_mwl", "f_stop"), "y",
        iters = 3, lr = 0.1)
      Classifier.score(feats, Seq("f_mwl", "f_stop"), w)
        .select(col("doc_id"), col("y"), col("score"))
    }),
    "q_text_gopher" -> ((s, dir) => {
      // full Gopher rule set over synthetically-structured text (the
      // corpus is single-line, so bullet/ellipsis lines are injected
      // deterministically — same pattern as q_text_normalize's noise)
      val d = s.read.parquet(s"$dir/documents.parquet")
      val structured = d.withColumn("text2",
        concat(regexp_replace(col("text"), " table ", "\n• table "),
          lit("\nto be continued...")))
      TextAnalysis.gopherRules(structured, "text2", "doc_id")
    }),
    "q_text_pii" -> ((s, dir) => {
      // PII redaction over deterministically-injected email/IP/phone —
      // counts + redacted text, RE2-portable patterns so the oracle runs
      // the very same regexes
      val d = s.read.parquet(s"$dir/documents.parquet")
      val withPii = d.withColumn("text2", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call +1 555 "),
        (col("doc_id") % 9000 + 1000).cast("string")))
      TextAnalysis.redactPii(withPii, "text2", "doc_id")
    }),
    "q_dedup_spans" -> ((s, dir) => {
      // duplicated 8-token-span detection over the shared-paragraph
      // construction (each doc_id%50 class shares a 100-char span → real
      // cross-doc duplicated windows); the per-doc duplicated fraction
      // is the Lee-et-al substring-dedup signal
      val d = s.read.parquet(s"$dir/documents.parquet")
      val seed = d.where(col("doc_id") < 50)
        .select(col("doc_id").as("sid"),
          substring(col("text"), 1, 100).as("shared"))
      val docs2 = d.join(broadcast(seed), col("doc_id") % 50 === col("sid"))
        .select(col("doc_id"),
          concat_ws(" ", col("text"), col("shared")).as("text2"))
      Dedup.duplicatedSpans(docs2, "text2", "doc_id", n = 8)
    }),
    "q_dedup_cdc" -> ((s, dir) => {
      // content-defined chunking dedup: docs share a 300-char span at
      // DIFFERENT offsets (appended after varying-length text), and the
      // content-defined boundaries still align its interior chunks —
      // the insertion-robustness fixed windows lack
      val d = s.read.parquet(s"$dir/documents.parquet")
      val seed = d.where(col("doc_id") < 50)
        .select(col("doc_id").as("sid"),
          substring(col("text"), 1, 300).as("shared"))
      val docs2 = d.join(broadcast(seed), col("doc_id") % 50 === col("sid"))
        .select(col("doc_id"),
          concat_ws(" ", col("text"), col("shared")).as("text2"))
      Dedup.cdcChunkStats(docs2, "text2", "doc_id", avgTokens = 8)
    }),
    "q_dedup_spans_cut" -> ((s, dir) => {
      // exact-substring dedup SURGERY over the same shared-span
      // construction as q_dedup_spans: duplicated 8-token windows are
      // cut, first (doc, pos) occurrence kept, documents rebuilt from
      // their surviving tokens
      val d = s.read.parquet(s"$dir/documents.parquet")
      val seed = d.where(col("doc_id") < 50)
        .select(col("doc_id").as("sid"),
          substring(col("text"), 1, 100).as("shared"))
      val docs2 = d.join(broadcast(seed), col("doc_id") % 50 === col("sid"))
        .select(col("doc_id"),
          concat_ws(" ", col("text"), col("shared")).as("text2"))
      Dedup.removeDuplicatedSpans(docs2, "text2", "doc_id", n = 8)
    }),
    "q_dedup_paragraph" -> ((s, dir) => {
      // cross-document paragraph dedup: each doc gets a second paragraph
      // SHARED across its doc_id%50 class (broadcast of 50 seed rows), so
      // ~10 copies of each shared paragraph exist; the stage must keep
      // exactly the first (doc, pos) occurrence and cut the rest
      val d = s.read.parquet(s"$dir/documents.parquet")
      val seed = d.where(col("doc_id") < 50)
        .select(col("doc_id").as("sid"),
          substring(col("text"), 1, 100).as("shared"))
      val docs2 = d.join(broadcast(seed), col("doc_id") % 50 === col("sid"))
        .select(col("doc_id"),
          concat_ws("\n\n", col("text"), col("shared")).as("text2"))
      Dedup.dedupParagraphs(docs2, "text2", "doc_id")
    }),
    "q_multimodal_video" -> ((s, dir) => {
      // VIDEO pipeline shape end to end: synthesize 3-frame GRFT
      // containers (constant header + first 24 text bytes as 4×2×1
      // frames), frame-sample every 2nd frame (mapPartitions explode →
      // frames 0 and 2), per-frame block-pooled features, temporal
      // mean-pool to one embedding per video. Every stage deterministic
      // byte math — the oracle replays it from hex-extracted text bytes.
      import graft.multimodal.Multimodal
      val d = s.read.parquet(s"$dir/documents.parquet")
      val header = java.nio.ByteBuffer.allocate(20)
        .put("GRFT".getBytes("ASCII")).putInt(4).putInt(2).putInt(1)
        .putInt(3).array()
      val bin = d
        .where(octet_length(encode(col("text"), "UTF-8")) >= 24)
        .select(col("doc_id"), concat(lit(header),
          substring(encode(col("text"), "UTF-8"), 1, 24)).as("payload"))
      val frames = Multimodal.frameSample(bin, "payload", everyN = 2)
      val feats = Multimodal.featureExtract(frames, "payload", dim = 4)
        .select(col("doc_id"), col("frame_idx"), col("features"))
      Multimodal.poolFrameFeatures(feats, "doc_id")
        .select(col("doc_id"),
          posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
        .withColumn("feat_val", round(col("feat_val"), 6))
    }),
    "q_multimodal_ann" -> ((s, dir) => {
      // multimodal → similarity composition: stub-decode the binary
      // payloads, block-pool to 8-dim feature vectors (mapPartitions),
      // then exact cosine top-k over the features — the decode→embed→
      // search pipeline shape with every stage deterministic
      import graft.multimodal.Multimodal
      val d = s.read.parquet(s"$dir/documents.parquet")
      val bin = d.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      // featureExtract decodes internally — no decodeMeta pre-pass, its
      // (meta, mean_px) outputs would be dead columns decoded twice
      val feats = Multimodal.featureExtract(bin, "payload", dim = 8)
        .select(col("doc_id"), col("features"))
      Similarity.topKBruteForce(feats, feats.where(col("doc_id") < 5),
        "doc_id", "features", k = 3)
    }),
  )

  def sql: Map[String, String] = Map(
    "q_text_tokens" ->
      """SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws,
           CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS n_bpe
         FROM documents""",
    "q_text_tokens_unicode" ->
      // script-aware token replay: CJK chars tally via RE2 \p{Script},
      // the CJK-stripped remainder ws-tokenizes (empty -> 0)
      """WITH s AS (
           SELECT doc_id, text || CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN ''
             WHEN 1 THEN ' 中文測試的句子'
             WHEN 2 THEN ' カタカナ한국어 mixed'
             END AS t
           FROM documents
           WHERE NOT regexp_matches(text, '[^\x00-\x7f]')
         ), r AS (
           SELECT doc_id, t,
             trim(regexp_replace(t,
               '[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]',
               ' ', 'g')) AS rest
           FROM s
         )
         SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT)
             AS n_ws,
           CAST(CASE WHEN rest = '' THEN 0
                ELSE len(regexp_split_to_array(rest, '\s+')) END
             + len(regexp_extract_all(t,
                 '[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]'))
             AS BIGINT) AS n_tokens
         FROM r""",
    "q_corpus_report" ->
      """WITH t AS (SELECT lang, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS tk,
             CAST(length(text) AS BIGINT) AS len
           FROM documents),
         g AS (SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(tk AS BIGINT)) AS BIGINT) AS n_tokens,
             quantile_cont(tk, 0.5) AS p50_tokens,
             quantile_cont(tk, 0.9) AS p90_tokens,
             quantile_cont(tk, 0.99) AS p99_tokens,
             MIN(len) AS min_chars, MAX(len) AS max_chars
           FROM t GROUP BY 1, 2)
         SELECT *, round(CAST(n_tokens AS DOUBLE)
           / CAST(n_docs AS DOUBLE), 6) AS mean_tokens
         FROM g""",
    "q_rollup" -> s"""
         SELECT l_returnflag, l_linestatus,
           ${dsumSql("l_quantity")} AS sum_qty,
           $drevenueSql AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q_text_entropy" ->
      // same histogram, same (c/n)·ln(c/n) op order, same 1e-9
      // quantization, same shared ln(2) literal
      """WITH ch AS (SELECT doc_id, unnest(list_filter(
             string_split(lower(trim(text)), ''), x -> x <> '')) AS ch
           FROM documents),
         cnt AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
                 FROM ch GROUP BY 1, 2),
         wn AS (SELECT doc_id, c,
             SUM(c) OVER (PARTITION BY doc_id) AS n FROM cnt),
         q AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
             CAST(SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
               ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
               1000000000.0, 0) AS BIGINT)) AS BIGINT) AS qs
           FROM wn GROUP BY 1)
         SELECT doc_id, n_chars,
           round((-(CAST(qs AS DOUBLE) / 1000000000.0)) /
             0.6931471805599453, 6) AS entropy_bits
         FROM q""",
    "q_drift_report" -> driftReportSql,
    // the JSON-graph formulation compiles to the identical plan
    "q_graph_drift" -> driftReportSql,
    "q_drift_movers" -> s"""
         WITH $driftCtes
         SELECT tok, c_old, c_new, tvq AS delta_q
         FROM p ORDER BY delta_q DESC, tok LIMIT 20""",
    "q_text_langid" ->
      langIdSql,
    "q_text_langid_script" ->
      langIdScriptSql,
    "q_text_quality" ->
      qualitySql,
    "q_text_repetition" ->
      // max frequency of an n-gram == longest equal-run in the sorted gram
      // array (the Spark side); here computed relationally via group counts
      """WITH tok AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         base AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
             round(CAST(len(list_distinct(t)) AS DOUBLE)
                   / greatest(len(t), 1), 6) AS distinct_token_ratio
           FROM tok),
         u AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
           FROM tok),
         runs AS (SELECT doc_id, max(c) AS max_token_run FROM (
             SELECT doc_id, count(*) AS c FROM (
               SELECT doc_id, w,
                 i - row_number() OVER (PARTITION BY doc_id, w ORDER BY i) AS grp
               FROM u) GROUP BY doc_id, w, grp) GROUP BY doc_id),
         bg AS (SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(t) - 1, 0) + 1),
               i -> array_to_string(t[i:i+1], ' '))) AS g
           FROM tok WHERE len(t) >= 2),
         bgf AS (SELECT doc_id,
             round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
           FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
           GROUP BY doc_id),
         tg AS (SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> array_to_string(t[i:i+2], ' '))) AS g
           FROM tok WHERE len(t) >= 3),
         tgf AS (SELECT doc_id,
             round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_trigram_frac
           FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
           GROUP BY doc_id)
         SELECT b.doc_id, b.n_tokens, b.distinct_token_ratio,
           r.max_token_run,
           coalesce(bgf.top_bigram_frac, 0.0) AS top_bigram_frac,
           coalesce(tgf.top_trigram_frac, 0.0) AS top_trigram_frac
         FROM base b JOIN runs r USING (doc_id)
         LEFT JOIN bgf USING (doc_id) LEFT JOIN tgf USING (doc_id)""",
    "q_curation_pipeline_v2" -> {
      val Seq(em, ip, ph) = graft.text.TextAnalysis.piiPatterns.map(_._2)
      val backoff = math.log(1e-9)
      s"""WITH seedp AS (SELECT doc_id AS sid, substr(text, 1, 100) AS shared
             FROM documents WHERE doc_id < 50),
         d0 AS (SELECT d.doc_id, d.lang,
             (d.text || ' contact user' || CAST(d.doc_id AS VARCHAR)
               || '@example.com') || chr(10) || chr(10) || s.shared AS text2
           FROM documents d JOIN seedp s ON d.doc_id % 50 = s.sid),
         d1 AS (SELECT doc_id, lang,
             regexp_replace(regexp_replace(regexp_replace(text2,
               '$em', '<EMAIL>', 'g'),
               '$ip', '<IP>', 'g'),
               '$ph', '<PHONE>', 'g') AS rtext
           FROM d0),
         d2 AS (SELECT doc_id, lang, rtext,
             string_split_regex(trim(rtext), '\\s+') AS t FROM d1),
         gated AS (SELECT doc_id, lang, rtext FROM d2
           WHERE len(t) >= 50 AND len(list_filter(
             ['the','be','to','of','and','that','have','with'],
             w -> list_contains(t, w))) >= 1),
         p0 AS (SELECT doc_id,
             unnest(string_split(rtext, chr(10) || chr(10))) AS para,
             generate_subscripts(string_split(rtext, chr(10) || chr(10)), 1)
               AS pos
           FROM gated),
         p1 AS (SELECT * FROM p0 WHERE para <> ''),
         pw AS (SELECT doc_id, pos, para, row_number() OVER (
             PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn FROM p1),
         cleaned AS (SELECT w.doc_id, g.lang,
             coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
               chr(10) || chr(10) ORDER BY pos), '') AS clean_text
           FROM pw w JOIN gated g ON g.doc_id = w.doc_id
           GROUP BY w.doc_id, g.lang),
         tokc AS (SELECT doc_id, lang, clean_text,
             string_split_regex(lower(trim(clean_text)), '\\s+') AS t
           FROM cleaned),
         bg AS (SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(t) - 1, 0) + 1),
               i -> array_to_string(t[i:i+1], ' '))) AS gram
           FROM tokc WHERE len(t) >= 2),
         cnt AS (SELECT gram, count(*) AS c12 FROM bg GROUP BY 1),
         uni AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c12) AS c1
                 FROM cnt GROUP BY 1),
         lm AS (SELECT c.gram,
             ln(CAST(c.c12 AS DOUBLE) / CAST(u.c1 AS DOUBLE)) AS logp
           FROM cnt c JOIN uni u ON u.w1 = string_split(c.gram, ' ')[1]),
         terms AS (SELECT b.doc_id,
             CAST(round(coalesce(lm.logp, $backoff) * 1000000000.0, 0)
               AS BIGINT) AS q
           FROM bg b LEFT JOIN lm ON lm.gram = b.gram),
         nll AS (SELECT doc_id,
             round(-((CAST(SUM(q) AS DOUBLE) / 1000000000.0)
               / CAST(count(*) AS DOUBLE)), 6) AS avg_nll
           FROM terms GROUP BY doc_id),
         kept AS (SELECT doc_id FROM nll WHERE avg_nll <= 3.4)
         SELECT c.lang, count(*) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(c.clean_text), '\\s+')))
             AS BIGINT) AS n_tokens
         FROM cleaned c JOIN kept k ON k.doc_id = c.doc_id
         GROUP BY c.lang"""
    },
    "q_lm_perplexity" -> lmPerplexitySql,
    "q_lm_backoff" -> {
      // stupid-backoff cascade replay: raw stream counts at every level
      // (the model's defining simplification), denominators re-derived
      // from the same unpruned tables the Spark trainer attaches
      val lnA = math.log(0.4)
      val ln2A = 2 * math.log(0.4)
      s"""WITH tok AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS t
           FROM documents),
         unic AS (SELECT w, count(*) AS c FROM
             (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
         nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM unic),
         bgc AS (SELECT gram, count(*) AS c FROM
             (SELECT unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> array_to_string(t[i:i+1], ' '))) AS gram
              FROM tok WHERE len(t) >= 2) GROUP BY 1),
         tg AS (SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> array_to_string(t[i:i+2], ' '))) AS g3
           FROM tok WHERE len(t) >= 3),
         tgc AS (SELECT g3 AS gram, count(*) AS c123 FROM tg GROUP BY 1),
         tri AS (SELECT t.gram, t.c123, b.c AS c12
           FROM tgc t JOIN bgc b
             ON b.gram = array_to_string(string_split(t.gram, ' ')[1:2], ' ')),
         bi AS (SELECT b.gram, b.c AS c23, u.c AS c2
           FROM bgc b JOIN unic u ON u.w = string_split(b.gram, ' ')[1]),
         terms AS (SELECT s.doc_id,
             CAST(round(CASE
               WHEN tri.c123 IS NOT NULL
                 THEN ln(CAST(tri.c123 AS DOUBLE) / CAST(tri.c12 AS DOUBLE))
               WHEN bi.c23 IS NOT NULL
                 THEN $lnA + ln(CAST(bi.c23 AS DOUBLE) / CAST(bi.c2 AS DOUBLE))
               WHEN u2.c IS NOT NULL
                 THEN $ln2A + ln(CAST(u2.c AS DOUBLE) / CAST(nt.n AS DOUBLE))
               ELSE $ln2A + ln(1.0 / CAST(nt.n AS DOUBLE))
             END * 1000000000.0, 0) AS BIGINT) AS q
           FROM tg s
           LEFT JOIN tri ON tri.gram = s.g3
           LEFT JOIN bi ON bi.gram
             = array_to_string(string_split(s.g3, ' ')[2:3], ' ')
           LEFT JOIN unic u2 ON u2.w = string_split(s.g3, ' ')[3], nt)
         SELECT doc_id, count(*) AS n_trigrams,
           round(-((CAST(SUM(q) AS DOUBLE) / 1000000000.0)
             / CAST(count(*) AS DOUBLE)), 6) AS avg_nll
         FROM terms GROUP BY doc_id"""
    },
    "q_quality_classifier" -> {
      // unrolled replay of 3 GD iterations. Per iteration i:
      //   z = (wb + w1*f_mwl) + w2*f_stop       (Spark's fold order)
      //   sg = 0.5 + z/(2*(1+|z|))              (rational link)
      //   g_j = SUM(CAST(round(x_j*(sg-y)*1e6, 0) AS BIGINT))  (exact)
      //   w_j' = w_j - (0.1 * (CAST(g_j AS DOUBLE)/1e6)) / n
      def cntq(expr: String, needle: String): String =
        s"CAST((length($expr) - length(replace($expr, '$needle', '')))" +
          s" / ${needle.length} AS INT)"
      val stopSum = Seq(" the ", " and ", " of ", " with ")
        .map(cntq("p", _)).mkString(" + ")
      def iter(zi: Int): String = {
        val w = s"w$zi"
        s"""z$zi AS (SELECT f.*, ((w.wb + w.w1*f.f_mwl) + w.w2*f.f_stop) AS z
             FROM f, $w w),
           s$zi AS (SELECT *, 0.5 + z/(2.0*(1.0+abs(z))) AS sg FROM z$zi),
           g$zi AS (SELECT
               SUM(CAST(round(1.0*(sg-y)*1000000.0, 0) AS BIGINT)) AS gb,
               SUM(CAST(round(f_mwl*(sg-y)*1000000.0, 0) AS BIGINT)) AS g1,
               SUM(CAST(round(f_stop*(sg-y)*1000000.0, 0) AS BIGINT)) AS g2
             FROM s$zi),
           w${zi + 1} AS (SELECT
               w.wb - (0.1 * (CAST(g.gb AS DOUBLE)/1000000.0)) / n.n AS wb,
               w.w1 - (0.1 * (CAST(g.g1 AS DOUBLE)/1000000.0)) / n.n AS w1,
               w.w2 - (0.1 * (CAST(g.g2 AS DOUBLE)/1000000.0)) / n.n AS w2
             FROM $w w, g$zi g, n)"""
      }
      s"""WITH f AS (SELECT doc_id,
             CAST(length(text) AS DOUBLE)
               / greatest(CAST(len(string_split_regex(trim(text), '\\s+'))
                   AS DOUBLE), 1.0) AS f_mwl,
             CAST($stopSum AS DOUBLE)
               / greatest(CAST(len(string_split_regex(trim(text), '\\s+'))
                   AS DOUBLE), 1.0) AS f_stop,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           FROM (SELECT doc_id, text, lang, ' ' || text || ' ' AS p
                 FROM documents)),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
         w0 AS (SELECT 0.0 AS wb, 0.0 AS w1, 0.0 AS w2),
         ${iter(0)},
         ${iter(1)},
         ${iter(2)}
         SELECT f.doc_id, f.y,
           round(0.5 + z/(2.0*(1.0+abs(z))), 9) AS score
         FROM (SELECT f.doc_id, f.y,
             ((w.wb + w.w1*f.f_mwl) + w.w2*f.f_stop) AS z
           FROM f, w3 w) f"""
    },
    "q_text_gopher" -> {
      def cnt(expr: String, needle: String): String =
        s"CAST((length($expr) - length(replace($expr, '$needle', '')))" +
          s" / ${needle.length} AS INT)"
      """WITH s AS (SELECT doc_id,
             regexp_replace(text, ' table ', chr(10) || '• table ', 'g')
               || chr(10) || 'to be continued...' AS t2
           FROM documents),
         tk AS (SELECT doc_id, t2,
             CASE WHEN NOT regexp_matches(t2, '\S')
               THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(trim(t2), '\s+') END AS t,
             string_split(t2, chr(10)) AS l
           FROM s),
         m AS (SELECT doc_id,
             CAST(len(t) AS INT) AS n_words,
             round(CAST(list_sum(list_transform(t, x -> length(x)))
                 AS DOUBLE) / greatest(len(t), 1), 6) AS mean_word_len,
             round(CAST(""" + cnt("t2", "#") + " + " + cnt("t2", "...") +
        " + " + cnt("t2", "…") +
      """ AS DOUBLE) / greatest(len(t), 1), 6) AS symbol_word_ratio,
             round(CAST(len(list_filter(t,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / greatest(len(t), 1), 6) AS frac_alpha_words,
             CAST(len(list_filter(
                 ['the','be','to','of','and','that','have','with'],
                 s2 -> list_contains(list_transform(t, x -> lower(x)),
                   s2))) AS INT) AS n_stops_present,
             round(CAST(len(list_filter(l, x ->
                 starts_with(trim(x), '• ') OR starts_with(trim(x), '- ')
                 OR starts_with(trim(x), '* '))) AS DOUBLE)
               / greatest(len(l), 1), 6) AS frac_bullet_lines,
             round(CAST(len(list_filter(l, x ->
                 ends_with(trim(x), '...') OR ends_with(trim(x), '…')))
                 AS DOUBLE)
               / greatest(len(l), 1), 6) AS frac_ellipsis_lines
           FROM tk)
         SELECT *, (n_words >= 50 AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND symbol_word_ratio <= 0.1 AND frac_alpha_words >= 0.8
             AND n_stops_present >= 2
             AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3)
           AS gopher_pass
         FROM m"""
    },
    "q_text_pii" -> {
      val Seq(em, ip, ph) = graft.text.TextAnalysis.piiPatterns.map(_._2)
      s"""WITH p AS (SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 10.0.'
               || CAST(doc_id % 256 AS VARCHAR) || '.7 call +1 555 '
               || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t2, '$em')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t2, '$ip')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(t2, '$ph')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(t2,
             '$em', '<EMAIL>', 'g'),
             '$ip', '<IP>', 'g'),
             '$ph', '<PHONE>', 'g') AS redacted
         FROM p"""
    },
    "q_dedup_spans" ->
      """WITH seedp AS (SELECT doc_id AS sid, substr(text, 1, 100) AS shared
           FROM documents WHERE doc_id < 50),
         d2 AS (SELECT d.doc_id,
             concat_ws(' ', d.text, s.shared) AS t2
           FROM documents d JOIN seedp s ON d.doc_id % 50 = s.sid),
         tok AS (SELECT doc_id,
             string_split_regex(lower(trim(t2)), '\s+') AS t FROM d2),
         wins AS (SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(t) - 7, 0) + 1),
               i -> array_to_string(t[i:i+7], ' '))) AS w
           FROM tok WHERE len(t) >= 8),
         cnt AS (SELECT w, count(*) AS c FROM wins GROUP BY 1),
         tot AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY 1),
         dupc AS (SELECT doc_id, count(*) AS n_dup
           FROM wins JOIN cnt USING (w) WHERE c > 1 GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(tot.n_windows, 0) AS n_windows,
           coalesce(dupc.n_dup, 0) AS n_dup,
           round(CAST(coalesce(dupc.n_dup, 0) AS DOUBLE)
             / CAST(greatest(coalesce(tot.n_windows, 0), 1) AS DOUBLE), 6)
             AS dup_frac
         FROM (SELECT DISTINCT doc_id FROM d2) d
         LEFT JOIN tot USING (doc_id) LEFT JOIN dupc USING (doc_id)""",
    "q_dedup_cdc" ->
      // CDC replay: per-token FNV HUGEINT fold, boundary when fh % 8 = 0,
      // chunk = running boundary sum, chunk digest occurrence counts
      """WITH seedp AS (SELECT doc_id AS sid, substr(text, 1, 300) AS shared
           FROM documents WHERE doc_id < 50),
         d2 AS (SELECT d.doc_id,
             concat_ws(' ', d.text, s.shared) AS t2
           FROM documents d JOIN seedp s ON d.doc_id % 50 = s.sid),
         tl AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(t2)), '\s+'),
               x -> x <> '') AS t
           FROM d2),
         toks AS (SELECT doc_id, unnest(t) AS tk,
             generate_subscripts(t, 1) - 1 AS pos FROM tl),
         fb AS (SELECT doc_id, pos, tk,
             CASE WHEN list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(range(0, octet_length(encode(tk))),
                   i -> CAST(CAST(('0x' || substr(hex(encode(tk)),
                        CAST(i*2+1 AS BIGINT), 2)) AS INTEGER) AS HUGEINT))),
               (acc, byte) -> (xor(acc, byte) * 1099511628211)
                 % 18446744073709551616) % 8 = 0
             THEN 1 ELSE 0 END AS b
           FROM toks),
         ch AS (SELECT doc_id, pos, tk,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM fb),
         chunks AS (SELECT doc_id, c,
             md5(array_to_string(list_transform(
               list_sort(list(struct_pack(p := pos, t := tk))),
               s -> s.t), ' ')) AS dg
           FROM ch GROUP BY doc_id, c),
         wc AS (SELECT doc_id,
             count(*) OVER (PARTITION BY dg) AS n
           FROM chunks),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks
           FROM wc GROUP BY 1)
         SELECT d.doc_id,
           coalesce(pd.n_chunks, 0) AS n_chunks,
           coalesce(pd.n_dup_chunks, 0) AS n_dup_chunks,
           round(CAST(coalesce(pd.n_dup_chunks, 0) AS DOUBLE)
             / CAST(greatest(coalesce(pd.n_chunks, 0), 1) AS DOUBLE), 6)
             AS dup_frac
         FROM (SELECT DISTINCT doc_id FROM d2) d
         LEFT JOIN pd USING (doc_id)""",
    "q_dedup_spans_cut" ->
      // surgery replay: windows carry their start position; every
      // non-first occurrence of a duplicated window covers its 8 token
      // positions; docs rebuild from uncovered tokens in position order
      """WITH seedp AS (SELECT doc_id AS sid, substr(text, 1, 100) AS shared
           FROM documents WHERE doc_id < 50),
         d2 AS (SELECT d.doc_id,
             concat_ws(' ', d.text, s.shared) AS t2
           FROM documents d JOIN seedp s ON d.doc_id % 50 = s.sid),
         tl AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(t2)), '\s+'),
               x -> x <> '') AS t
           FROM d2),
         toks AS (SELECT doc_id, unnest(t) AS tk,
             generate_subscripts(t, 1) - 1 AS pos FROM tl),
         wins AS (SELECT doc_id, u.p AS pos, u.w AS w FROM (
             SELECT doc_id, unnest(list_transform(
                 range(1, greatest(len(t) - 7, 0) + 1),
                 i -> struct_pack(p := i - 1,
                   w := array_to_string(t[i:i+7], ' ')))) AS u
             FROM tl)),
         wc AS (SELECT *, count(*) OVER (PARTITION BY w) AS c,
             row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
           FROM wins),
         cov AS (SELECT DISTINCT wc.doc_id, wc.pos + k.k AS pos
           FROM wc CROSS JOIN range(0, 8) AS k(k) WHERE c > 1 AND rn > 1),
         m AS (SELECT t.doc_id, t.pos, t.tk, (c.pos IS NOT NULL) AS cov
           FROM toks t LEFT JOIN cov c
             ON c.doc_id = t.doc_id AND c.pos = t.pos),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             coalesce(array_to_string(list_transform(
               list_sort(list(struct_pack(p := pos, tk := tk))
                 FILTER (WHERE NOT cov)),
               s -> s.tk), ' '), '') AS clean_text
           FROM m GROUP BY 1)
         SELECT d2.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
           coalesce(a.n_removed, 0) AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
         FROM d2 LEFT JOIN agg a USING (doc_id)""",
    "q_dedup_paragraph" ->
      """WITH seedp AS (SELECT doc_id AS sid, substr(text, 1, 100) AS shared
           FROM documents WHERE doc_id < 50),
         d2 AS (SELECT d.doc_id,
             concat_ws(chr(10) || chr(10), d.text, s.shared) AS t2
           FROM documents d JOIN seedp s ON d.doc_id % 50 = s.sid),
         p0 AS (SELECT doc_id,
             unnest(string_split(t2, chr(10) || chr(10))) AS para,
             generate_subscripts(string_split(t2, chr(10) || chr(10)), 1)
               AS pos
           FROM d2),
         p AS (SELECT * FROM p0 WHERE para <> ''),
         w AS (SELECT doc_id, pos, para, row_number() OVER (
             PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn FROM p)
         SELECT doc_id, count(*) AS n_paras,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
             chr(10) || chr(10) ORDER BY pos), '') AS clean_text
         FROM w GROUP BY doc_id""",
    "q_decontaminate" -> decontaminateSql,
    "q_curation_pipeline" ->
      curationSql,
    // the JSON-graph formulation compiles to the identical plan (shared
    // Curation stage definitions), so it shares the oracle verbatim
    "q_graph_curation" ->
      curationSql,
    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
         FROM documents GROUP BY 1""",
    "q_dedup_minhash" ->
      // all-pairs exact Jaccard on 3-gram shingles — LSH recall at J≈0.99
      // is certain, so the candidate-verified output equals this
      """WITH sh AS (SELECT doc_id, list_filter(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.7""",
    "q_dedup_sensitivity" ->
      // the q_ngram_jaccard pair formulation at a 0.3 floor, rounded
      // Jaccard bucketed at 0.1, cumulative from the top bin down
      """WITH sh AS (SELECT doc_id, lang, source,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents)),
         pairs AS (SELECT
             round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.s, b.s))), 6) AS j
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
         b AS (SELECT CAST(FLOOR(j * 10) AS BIGINT) AS bin10,
             CAST(count(*) AS BIGINT) AS n_pairs
           FROM pairs GROUP BY 1)
         SELECT round(CAST(bin10 AS DOUBLE) / 10.0, 1) AS bin_lo, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bin10 DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_pairs_at_or_above
         FROM b""",
    "q_split_leakage" ->
      // the q_ngram_jaccard pair formulation, joined against BOTH split
      // rules: grouped md5-bucket (q_split_grouped's literals) and the
      // naive per-doc LCG thresholds floor(0.8*2^31)/floor(0.9*2^31)
      """WITH sh AS (SELECT doc_id, lang, source,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         grouped AS (SELECT doc_id,
             CASE WHEN hv < 3435973836 THEN 'train'
                  WHEN hv < 3865470566 THEN 'val'
                  ELSE 'test' END AS split
           FROM (SELECT doc_id,
               CAST(('0x' || substr(md5(concat_ws('|', source, lang)), 1, 8))
                    AS BIGINT) AS hv
             FROM documents)),
         naive AS (SELECT doc_id,
             CASE WHEN hv < 1717986918 THEN 'train'
                  WHEN hv < 1932735283 THEN 'val'
                  ELSE 'test' END AS split
           FROM (SELECT doc_id,
               ((doc_id % 2147483648) * 1103515245 + 12345)
                 % 2147483648 AS hv
             FROM documents))
         SELECT 'grouped' AS mode, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN ga.split <> gb.split THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross
         FROM pairs JOIN grouped ga ON ga.doc_id = pairs.id_a
           JOIN grouped gb ON gb.doc_id = pairs.id_b
         UNION ALL
         SELECT 'naive', CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN na.split <> nb.split THEN 1 ELSE 0 END)
                AS BIGINT)
         FROM pairs JOIN naive na ON na.doc_id = pairs.id_a
           JOIN naive nb ON nb.doc_id = pairs.id_b""",
    "q_boilerplate_strip" ->
      // same injection, paragraph split on the literal blank-line
      // separator, digest breadth via count(DISTINCT doc_id), ordered
      // reassembly
      """WITH aug AS (SELECT doc_id,
             text || chr(10) || chr(10) ||
               CASE WHEN doc_id % 3 = 0
                 THEN 'subscribe to our newsletter for daily updates'
                 ELSE 'unique tail ' || doc_id END AS t2
           FROM documents),
         p0 AS (SELECT doc_id,
             string_split(t2, chr(10) || chr(10)) AS ps FROM aug),
         p AS (SELECT doc_id, unnest(ps) AS para,
             generate_subscripts(ps, 1) - 1 AS pos FROM p0),
         pf AS (SELECT * FROM p WHERE para <> ''),
         b AS (SELECT md5(para) AS dg FROM pf
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
         k AS (SELECT doc_id, pos, para FROM pf
           WHERE md5(para) NOT IN (SELECT dg FROM b))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras_kept,
           array_to_string(list(para ORDER BY pos), chr(10) || chr(10))
             AS clean_text
         FROM k GROUP BY 1""",
    "q_dedup_containment" ->
      // blocked all-pairs directed containment over the augmented corpus
      // (same shingle formulation as q_dedup_minhash); orientation by
      // CASE on the two ratios, ties keep the lower id contained
      """WITH aug AS (SELECT doc_id, lang, source, text FROM documents
           UNION ALL
           SELECT doc_id + 20000, lang, source, substr(text, 50, 200)
           FROM documents WHERE doc_id < 30),
         sh AS (SELECT doc_id, lang, source,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM aug)),
         pr AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS ca,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s) AS cb
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id)
         SELECT CASE WHEN ca >= cb THEN ida ELSE idb END AS contained_id,
           CASE WHEN ca >= cb THEN idb ELSE ida END AS container_id,
           round(GREATEST(ca, cb), 6) AS containment
         FROM pr
         WHERE round(GREATEST(ca, cb), 6) >= 0.8""",
    "q_dedup_incremental" -> dedupIncrementalSql,
    // the persisted-index serving path is result-identical (same band
    // keys, same verify) — oracle shared verbatim, like q_ann_index
    "q_dedup_indexed" -> dedupIncrementalSql,
    "q_sample_fraction" ->
      // identical LCG arithmetic: ((id % 2^31) * A + C) % 2^31 < f * 2^31
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648
               < 536870912""",
    "q_sample_stratified" ->
      """WITH h AS (
           SELECT doc_id, lang, n_chars,
             ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hv
           FROM documents
         ), r AS (
           SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
           FROM h
         )
         SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20""",
    "q_unimax_mix" ->
      // same trajectory as Sampling.unimaxSample: ascending (n, source)
      // order, INTEGER full-prefix cutoff n*(k-i) <= remaining (a prefix
      // property — once one source is partial, every larger one is),
      // then one shared IEEE share for the suffix and the portable LCG
      // keep filter (identical op order to the Scala side)
      """WITH dd AS (SELECT doc_id, lang,
             CASE WHEN doc_id < 300 THEN 'head'
                  WHEN doc_id < 450 THEN 'mid'
                  ELSE source END AS mix_src
           FROM documents),
         c AS (SELECT mix_src, count(*) AS n FROM dd GROUP BY 1),
         o AS (SELECT mix_src, n,
             row_number() OVER (ORDER BY n, mix_src) - 1 AS i,
             (SELECT count(*) FROM c) AS k,
             COALESCE(SUM(n) OVER (ORDER BY n, mix_src
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM c),
         f AS (SELECT *,
             CASE WHEN n * (k - i) <= 120 - pre THEN 1 ELSE 0 END AS isf
           FROM o),
         s AS (SELECT COALESCE(SUM(CASE WHEN isf = 1 THEN n END), 0) AS full_n,
                      COALESCE(SUM(isf), 0) AS cut, MAX(k) AS k FROM f),
         r AS (SELECT f.mix_src,
             CASE WHEN f.isf = 1 THEN 2147483648
                  ELSE CAST(FLOOR(LEAST(1.0,
                    (CAST(120 - s.full_n AS DOUBLE) / (s.k - s.cut))
                      / CAST(f.n AS DOUBLE)) * 2147483648.0) AS BIGINT)
                  END AS thr
           FROM f, s)
         SELECT dd.doc_id, dd.mix_src, dd.lang
         FROM dd JOIN r ON dd.mix_src = r.mix_src
         WHERE ((dd.doc_id % 2147483648) * 1103515245 + 12345) % 2147483648
               < r.thr""",
    "q_graph_mix" ->
      // unimax water-filling (natural sources, uniform at this fixture
      // so all-partial), the cap rank window, and the token stats —
      // the same closed forms as q_unimax_mix / q_cap_domain composed
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         o AS (SELECT source, n,
             row_number() OVER (ORDER BY n, source) - 1 AS i,
             (SELECT count(*) FROM c) AS k,
             COALESCE(SUM(n) OVER (ORDER BY n, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM c),
         f AS (SELECT *,
             CASE WHEN n * (k - i) <= 120 - pre THEN 1 ELSE 0 END AS isf
           FROM o),
         s AS (SELECT COALESCE(SUM(CASE WHEN isf = 1 THEN n END), 0) AS full_n,
                      COALESCE(SUM(isf), 0) AS cut, MAX(k) AS k FROM f),
         r AS (SELECT f.source,
             CASE WHEN f.isf = 1 THEN 2147483648
                  ELSE CAST(FLOOR(LEAST(1.0,
                    (CAST(120 - s.full_n AS DOUBLE) / (s.k - s.cut))
                      / CAST(f.n AS DOUBLE)) * 2147483648.0) AS BIGINT)
                  END AS thr
           FROM f, s),
         kept AS (SELECT d.* FROM documents d JOIN r ON d.source = r.source
           WHERE ((d.doc_id % 2147483648) * 1103515245 + 12345) % 2147483648
                 < r.thr),
         capped AS (SELECT * FROM (
             SELECT kept.*, row_number() OVER (PARTITION BY lang, source
                 ORDER BY n_chars DESC, doc_id) AS rn FROM kept)
           WHERE rn <= 3)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS n_tokens
         FROM capped GROUP BY lang""",
    "q_unimax_epochs" ->
      // capacity (n*E) water-filling with the same integer prefix test,
      // then per-source whole copies + the LCG fractional-copy
      // threshold, and lateral generate_series row multiplication —
      // identical IEEE op order to the Scala side throughout
      """WITH dd AS (SELECT doc_id, lang,
             CASE WHEN doc_id < 300 THEN 'head'
                  WHEN doc_id < 450 THEN 'mid'
                  ELSE source END AS mix_src
           FROM documents),
         c AS (SELECT mix_src, count(*) AS n FROM dd GROUP BY 1),
         o AS (SELECT mix_src, n, n * 3 AS cap,
             row_number() OVER (ORDER BY n * 3, mix_src) - 1 AS i,
             (SELECT count(*) FROM c) AS k,
             COALESCE(SUM(n * 3) OVER (ORDER BY n * 3, mix_src
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM c),
         f AS (SELECT *,
             CASE WHEN cap * (k - i) <= 400 - pre THEN 1 ELSE 0 END AS isf
           FROM o),
         s AS (SELECT COALESCE(SUM(CASE WHEN isf = 1 THEN cap END), 0)
                 AS full_cap,
               COALESCE(SUM(isf), 0) AS cut, MAX(k) AS k FROM f),
         r AS (SELECT f.mix_src, f.isf,
             (CAST(400 - s.full_cap AS DOUBLE) / (s.k - s.cut))
               / CAST(f.n AS DOUBLE) AS ep
           FROM f, s),
         rr AS (SELECT mix_src,
             CASE WHEN isf = 1 THEN CAST(3 AS BIGINT)
                  ELSE CAST(FLOOR(ep) AS BIGINT) END AS whole,
             CASE WHEN isf = 1 THEN CAST(0 AS BIGINT)
                  ELSE CAST(FLOOR((ep - FLOOR(ep)) * 2147483648.0)
                       AS BIGINT) END AS thr
           FROM r),
         cp AS (SELECT dd.doc_id, dd.mix_src, dd.lang,
             rr.whole + CASE WHEN ((dd.doc_id % 2147483648) * 1103515245
                  + 12345) % 2147483648 < rr.thr THEN 1 ELSE 0 END AS copies
           FROM dd JOIN rr ON dd.mix_src = rr.mix_src)
         SELECT doc_id, mix_src, lang,
           CAST(unnest(range(1, copies + 1)) AS BIGINT) AS epoch
         FROM cp WHERE copies > 0""",
    "q_temperature_mix" ->
      // same trajectory as Sampling.temperatureSample: per-source counts,
      // n^0.5 weights, name-ordered normalizing sum (mirrors the Scala
      // left fold), floor to the integer LCG threshold, pure filter
      """WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
           FROM documents GROUP BY 1),
         w AS (SELECT source, n, POW(n, 0.5) AS w FROM c),
         t AS (SELECT SUM(w ORDER BY source) AS norm FROM w),
         r AS (SELECT source,
             CAST(FLOOR(LEAST(1.0, 200.0 * (w / t.norm) / n)
                  * 2147483648.0) AS BIGINT) AS thr
           FROM w, t)
         SELECT d.doc_id, d.source, d.lang
         FROM documents d JOIN r ON d.source = r.source
         WHERE ((d.doc_id % 2147483648) * 1103515245 + 12345) % 2147483648
               < r.thr""",
    "q_split_grouped" ->
      // bucket bounds = floor(cumWeight/total * 2^32) over md5's first
      // 8 hex chars — identical literals to Sampling.assignSplit
      """WITH g AS (
           SELECT doc_id, concat_ws('|', source, lang) AS grp
           FROM documents
         ), h AS (
           SELECT doc_id, grp,
             CAST(('0x' || substr(md5(grp), 1, 8)) AS BIGINT) AS hv
           FROM g
         )
         SELECT doc_id, grp,
           CASE WHEN hv < 3435973836 THEN 'train'
                WHEN hv < 3865470566 THEN 'val'
                ELSE 'test' END AS split
         FROM h""",
    "q_pack_budget" ->
      """WITH h AS (
           SELECT doc_id, lang, n_chars,
             ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hv
           FROM documents
         ), c AS (
           SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang ORDER BY hv, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM h
         )
         SELECT doc_id, lang, n_chars,
           DENSE_RANK() OVER (PARTITION BY lang
             ORDER BY (cum - n_chars) // 16384) - 1 AS pack_id
         FROM c""",
    "q_multimodal_features" -> multimodalFeaturesSql,
    "q_graph_multimodal" ->
      // shared VERBATIM with q_multimodal_features: the graph row
      // (encode_binary -> image_decode -> image_features) compiles to
      // the identical pipeline (round-13 graph-surface parity)
      multimodalFeaturesSql,
    "q_multimodal_real" ->
      // the BMP round-trip is generative: pixel j = text byte (j % len),
      // w = 1+len%7, h = 1+len%5 — the oracle computes the stats straight
      // from those bytes; a decode bug on the Spark side (BGR order,
      // bottom-up rows, row padding) would desynchronize the hash
      """WITH d AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE octet_length(encode(text)) >= 1
         ), p AS (
           SELECT doc_id, h, len, 1 + (len % 7) AS width,
                  1 + (len % 5) AS height,
                  (1 + (len % 7)) * (1 + (len % 5)) * 3 AS px_len
           FROM d
         ), bytes AS (
           SELECT p.doc_id, g.j,
                  CAST(('0x' || substr(p.h,
                    CAST((g.j % p.len) * 2 + 1 AS BIGINT), 2)) AS INTEGER) AS b
           FROM p, generate_series(0, 104) AS g(j)
           WHERE g.j < p.px_len
         ), m AS (
           SELECT p.doc_id, p.width, p.height,
                  ROUND(SUM(b.b)::DOUBLE / COUNT(b.b), 6) AS mean_px
           FROM p JOIN bytes b ON b.doc_id = p.doc_id
           GROUP BY p.doc_id, p.width, p.height
         ), f AS (
           SELECT p.doc_id, g.i AS feat_idx,
                  GREATEST(1, p.px_len // 6) AS block, p.px_len
           FROM p, generate_series(0, 5) AS g(i)
         ), fv AS (
           SELECT f.doc_id, f.feat_idx, COUNT(b.b) AS n, SUM(b.b) AS s
           FROM f LEFT JOIN bytes b
             ON b.doc_id = f.doc_id
            AND b.j >= f.feat_idx * f.block
            AND b.j < LEAST((f.feat_idx + 1) * f.block, f.px_len)
           GROUP BY f.doc_id, f.feat_idx
         )
         SELECT m.doc_id, 'bmp' AS format, m.width, m.height, m.mean_px,
                fv.feat_idx,
                CASE WHEN fv.n = 0 THEN 0.0
                     ELSE ROUND(CAST(CAST(fv.s::DOUBLE / fv.n / 255.0
                            AS FLOAT) AS DOUBLE), 6) END AS feat_val
         FROM m JOIN fv ON fv.doc_id = m.doc_id""",
    "q_multimodal_resize" ->
      // nearest-neighbor 2×2 replay: source pixel (⌊y·h/2⌋ capped,
      // ⌊x·w/2⌋ capped, ch), byte = text byte (index % len); the Spark
      // side additionally round-trips the resized image through a second
      // BMP encode/decode, which is lossless and so invisible here
      """WITH d AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE octet_length(encode(text)) >= 1
         ), p AS (
           SELECT doc_id, h, len, 1 + (len % 7) AS w, 1 + (len % 5) AS hh
           FROM d
         ), o AS (
           SELECT p.doc_id, p.h, p.len,
                  (LEAST(p.hh - 1, (gy.y * p.hh) // 2) * p.w
                   + LEAST(p.w - 1, (gx.x * p.w) // 2)) * 3 + gc.ch AS j
           FROM p, generate_series(0, 1) AS gy(y),
                generate_series(0, 1) AS gx(x),
                generate_series(0, 2) AS gc(ch)
         ), b AS (
           SELECT doc_id, CAST(('0x' || substr(h,
                    CAST((j % len) * 2 + 1 AS BIGINT), 2)) AS INTEGER) AS b
           FROM o
         )
         SELECT doc_id, 2 AS width, 2 AS height,
                ROUND(SUM(b)::DOUBLE / COUNT(b), 6) AS mean_px
         FROM b GROUP BY doc_id""",
    "q_multimodal_png" ->
      // the PNG round-trip is generative and LOSSLESS (deflate+filters
      // reconstruct exactly): pixel j = text byte (j % len), w = 1+len%6,
      // h = 1+len%4 — the oracle computes the stats straight from those
      // bytes; a filter-reconstruction or inflate bug shifts every stat
      """WITH d AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE octet_length(encode(text)) >= 1
         ), p AS (
           SELECT doc_id, h, len, 1 + (len % 6) AS width,
                  1 + (len % 4) AS height,
                  (1 + (len % 6)) * (1 + (len % 4)) * 3 AS px_len
           FROM d
         ), bytes AS (
           SELECT p.doc_id, g.j,
                  CAST(('0x' || substr(p.h,
                    CAST((g.j % p.len) * 2 + 1 AS BIGINT), 2)) AS INTEGER) AS b
           FROM p, generate_series(0, 71) AS g(j)
           WHERE g.j < p.px_len
         ), m AS (
           SELECT p.doc_id, p.width, p.height,
                  ROUND(SUM(b.b)::DOUBLE / COUNT(b.b), 6) AS mean_px
           FROM p JOIN bytes b ON b.doc_id = p.doc_id
           GROUP BY p.doc_id, p.width, p.height
         ), f AS (
           SELECT p.doc_id, g.i AS feat_idx,
                  GREATEST(1, p.px_len // 5) AS block, p.px_len
           FROM p, generate_series(0, 4) AS g(i)
         ), fv AS (
           SELECT f.doc_id, f.feat_idx, COUNT(b.b) AS n, SUM(b.b) AS s
           FROM f LEFT JOIN bytes b
             ON b.doc_id = f.doc_id
            AND b.j >= f.feat_idx * f.block
            AND b.j < LEAST((f.feat_idx + 1) * f.block, f.px_len)
           GROUP BY f.doc_id, f.feat_idx
         )
         SELECT m.doc_id, 'png' AS format, m.width, m.height, m.mean_px,
                fv.feat_idx,
                CASE WHEN fv.n = 0 THEN 0.0
                     ELSE ROUND(CAST(CAST(fv.s::DOUBLE / fv.n / 255.0
                            AS FLOAT) AS DOUBLE), 6) END AS feat_val
         FROM m JOIN fv ON fv.doc_id = m.doc_id""",
    "q_multimodal_jpeg" ->
      // flat-8×8-block grayscale baseline JPEG is LOSSLESS by
      // construction (DC-only, quant step 8), so decoded pixel j of the
      // (8w)×(8h) image equals text byte ((j÷(8w)÷8)·w + (j mod 8w)÷8)
      // mod len — the oracle computes every stat from that index map;
      // a Huffman/dequant/IDCT bug shifts all of them
      """WITH d AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE octet_length(encode(text)) >= 1
         ), p AS (
           SELECT doc_id, h, len, 1 + (len % 5) AS w, 1 + (len % 3) AS hh,
                  (1 + (len % 5)) * 8 AS width,
                  (1 + (len % 3)) * 8 AS height,
                  (1 + (len % 5)) * (1 + (len % 3)) * 64 AS px_len
           FROM d
         ), bytes AS (
           SELECT p.doc_id, g.j,
                  CAST(('0x' || substr(p.h,
                    CAST((((((g.j // p.width) // 8) * p.w +
                        (g.j % p.width) // 8) % p.len) * 2 + 1) AS BIGINT),
                    2)) AS INTEGER) AS b
           FROM p, generate_series(0, 959) AS g(j)
           WHERE g.j < p.px_len
         ), m AS (
           SELECT p.doc_id, p.width, p.height,
                  ROUND(SUM(b.b)::DOUBLE / COUNT(b.b), 6) AS mean_px
           FROM p JOIN bytes b ON b.doc_id = p.doc_id
           GROUP BY p.doc_id, p.width, p.height
         ), f AS (
           SELECT p.doc_id, g.i AS feat_idx,
                  GREATEST(1, p.px_len // 5) AS block, p.px_len
           FROM p, generate_series(0, 4) AS g(i)
         ), fv AS (
           SELECT f.doc_id, f.feat_idx, COUNT(b.b) AS n, SUM(b.b) AS s
           FROM f LEFT JOIN bytes b
             ON b.doc_id = f.doc_id
            AND b.j >= f.feat_idx * f.block
            AND b.j < LEAST((f.feat_idx + 1) * f.block, f.px_len)
           GROUP BY f.doc_id, f.feat_idx
         )
         SELECT m.doc_id, 'jpeg' AS format, m.width, m.height, m.mean_px,
                fv.feat_idx,
                CASE WHEN fv.n = 0 THEN 0.0
                     ELSE ROUND(CAST(CAST(fv.s::DOUBLE / fv.n / 255.0
                            AS FLOAT) AS DOUBLE), 6) END AS feat_val
         FROM m JOIN fv ON fv.doc_id = m.doc_id""",
    "q_multimodal_jpeg_color" ->
      // flat-8×8-block COLOR baseline JPEG: per-plane DCT is lossless
      // (DC-only, quant step 8), so decoded channel c of pixel i equals
      // the input RGB pushed through the integer JFIF YCbCr round trip.
      // Both directions round half-up — FLOOR(x+0.5), exactly the
      // codec's r255 (DuckDB's round() is half-even and would diverge).
      // Formula term ORDER mirrors the Scala exactly (left-assoc IEEE
      // double chains), so the replay is bit-exact.
      """WITH d AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE octet_length(encode(text)) >= 1
         ), p AS (
           SELECT doc_id, h, len, 1 + (len % 4) AS wb, 1 + (len % 2) AS hb,
                  (1 + (len % 4)) * 8 AS width,
                  (1 + (len % 2)) * 8 AS height,
                  (1 + (len % 4)) * (1 + (len % 2)) * 192 AS px_len
           FROM d
         ), blk AS (
           SELECT p.doc_id, g.s AS blk,
                  CAST(('0x' || substr(p.h,
                    ((g.s * 3) % p.len) * 2 + 1, 2)) AS INTEGER) AS r0,
                  CAST(('0x' || substr(p.h,
                    ((g.s * 3 + 1) % p.len) * 2 + 1, 2)) AS INTEGER) AS g0,
                  CAST(('0x' || substr(p.h,
                    ((g.s * 3 + 2) % p.len) * 2 + 1, 2)) AS INTEGER) AS b0
           FROM p, generate_series(0, 7) AS g(s)
           WHERE g.s < p.wb * p.hb
         ), ycc AS (
           SELECT doc_id, blk,
             LEAST(255, GREATEST(0, CAST(FLOOR(
               (0.299 * r0 + 0.587 * g0 + 0.114 * b0) + 0.5)
               AS INTEGER))) AS y,
             LEAST(255, GREATEST(0, CAST(FLOOR(
               (-0.168736 * r0 - 0.331264 * g0 + 0.5 * b0 + 128.0) + 0.5)
               AS INTEGER))) AS cb,
             LEAST(255, GREATEST(0, CAST(FLOOR(
               (0.5 * r0 - 0.418688 * g0 - 0.081312 * b0 + 128.0) + 0.5)
               AS INTEGER))) AS cr
           FROM blk
         ), rgb AS (
           SELECT doc_id, blk,
             LEAST(255, GREATEST(0, CAST(FLOOR(
               (y + 1.402 * (cr - 128)) + 0.5) AS INTEGER))) AS r1,
             LEAST(255, GREATEST(0, CAST(FLOOR(
               (y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)) + 0.5)
               AS INTEGER))) AS g1,
             LEAST(255, GREATEST(0, CAST(FLOOR(
               (y + 1.772 * (cb - 128)) + 0.5) AS INTEGER))) AS b1
           FROM ycc
         ), bytes AS (
           SELECT p.doc_id, g.j,
                  CASE g.j % 3 WHEN 0 THEN rgb.r1 WHEN 1 THEN rgb.g1
                       ELSE rgb.b1 END AS b
           FROM p, generate_series(0, 1535) AS g(j), rgb
           WHERE g.j < p.px_len
             AND rgb.doc_id = p.doc_id
             AND rgb.blk = (((g.j // 3) // p.width) // 8) * p.wb +
                           ((g.j // 3) % p.width) // 8
         ), m AS (
           SELECT p.doc_id, p.width, p.height,
                  ROUND(SUM(b.b)::DOUBLE / COUNT(b.b), 6) AS mean_px
           FROM p JOIN bytes b ON b.doc_id = p.doc_id
           GROUP BY p.doc_id, p.width, p.height
         ), f AS (
           SELECT p.doc_id, g.i AS feat_idx,
                  GREATEST(1, p.px_len // 5) AS block, p.px_len
           FROM p, generate_series(0, 4) AS g(i)
         ), fv AS (
           SELECT f.doc_id, f.feat_idx, COUNT(b.b) AS n, SUM(b.b) AS s
           FROM f LEFT JOIN bytes b
             ON b.doc_id = f.doc_id
            AND b.j >= f.feat_idx * f.block
            AND b.j < LEAST((f.feat_idx + 1) * f.block, f.px_len)
           GROUP BY f.doc_id, f.feat_idx
         )
         SELECT m.doc_id, 'jpeg' AS format, m.width, m.height,
                3 AS channels, m.mean_px, fv.feat_idx,
                CASE WHEN fv.n = 0 THEN 0.0
                     ELSE ROUND(CAST(CAST(fv.s::DOUBLE / fv.n / 255.0
                            AS FLOAT) AS DOUBLE), 6) END AS feat_val
         FROM m JOIN fv ON fv.doc_id = m.doc_id""",
    "q_multimodal_wav" ->
      // WAV round-trip maps sample i back to text byte i exactly
      // ((((b-128)<<8) >> 8) + 128 = b), so the oracle reads the even
      // prefix of the text bytes; frames_per_ch = floor(len/2) at 2 ch
      """WITH d AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE octet_length(encode(text)) >= 2
             AND octet_length(encode(text)) <= 4096
         ), p AS (
           SELECT doc_id, h, len, len - (len % 2) AS px_len
           FROM d
         ), bytes AS (
           SELECT p.doc_id, g.j,
                  CAST(('0x' || substr(p.h,
                    CAST(g.j * 2 + 1 AS BIGINT), 2)) AS INTEGER) AS b
           FROM p, generate_series(0, 4095) AS g(j)
           WHERE g.j < p.px_len
         ), m AS (
           SELECT p.doc_id, p.px_len // 2 AS frames_per_ch,
                  p.px_len,
                  ROUND(SUM(b.b)::DOUBLE / COUNT(b.b), 6) AS mean_px
           FROM p JOIN bytes b ON b.doc_id = p.doc_id
           GROUP BY p.doc_id, p.px_len
         ), f AS (
           SELECT p.doc_id, g.i AS feat_idx,
                  GREATEST(1, p.px_len // 4) AS block, p.px_len
           FROM p, generate_series(0, 3) AS g(i)
         ), fv AS (
           SELECT f.doc_id, f.feat_idx, COUNT(b.b) AS n, SUM(b.b) AS s
           FROM f LEFT JOIN bytes b
             ON b.doc_id = f.doc_id
            AND b.j >= f.feat_idx * f.block
            AND b.j < LEAST((f.feat_idx + 1) * f.block, f.px_len)
           GROUP BY f.doc_id, f.feat_idx
         )
         SELECT m.doc_id, 'wav' AS format, m.frames_per_ch,
                2 AS channels, m.mean_px, fv.feat_idx,
                CASE WHEN fv.n = 0 THEN 0.0
                     ELSE ROUND(CAST(CAST(fv.s::DOUBLE / fv.n / 255.0
                            AS FLOAT) AS DOUBLE), 6) END AS feat_val
         FROM m JOIN fv ON fv.doc_id = m.doc_id""",
    "q_multimodal_video" ->
      // frames 0 and 2 of the 3-frame 4×2×1 container are text bytes
      // [f*8, f*8+8); dim-4 block pooling means byte pairs; temporal
      // pool averages the two frames — all from hex-extracted bytes
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS h FROM documents
           WHERE octet_length(encode(text)) >= 24),
         fr(f) AS (VALUES (0), (2)),
         g AS (SELECT doc_id, fr.f, gs.k,
             CAST(CAST((
               CAST(('0x' || substr(h, (fr.f*8 + gs.k*2)*2 + 1, 2)) AS INTEGER)
               + CAST(('0x' || substr(h, (fr.f*8 + gs.k*2 + 1)*2 + 1, 2))
                   AS INTEGER)) AS DOUBLE) / 2 / 255.0 AS FLOAT) AS fv
           FROM d, fr, generate_series(0, 3) AS gs(k))
         SELECT doc_id, k AS feat_idx,
           round(avg(CAST(fv AS DOUBLE)), 6) AS feat_val
         FROM g GROUP BY 1, 2""",
    "q_chunk_tokens" ->
      // 1-based inclusive list slice == Spark's slice(start, length)
      """WITH tk AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS t FROM documents),
         ch AS (SELECT doc_id, t, len(t) AS n,
             unnest(generate_series(0,
               CAST(ceil(len(t) / 32.0) AS BIGINT) - 1)) AS chunk_idx
           FROM tk)
         SELECT doc_id, chunk_idx,
           array_to_string(t[chunk_idx*32 + 1 : chunk_idx*32 + 32], ' ')
             AS chunk_text,
           LEAST(32, n - chunk_idx*32) AS n_tokens
         FROM ch""",
    "q_interleave" ->
      // identical LCG thinning per source (0.8·2³¹ and 0.25·2³¹ bounds)
      """WITH h AS (SELECT doc_id, lang,
             ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hv
           FROM documents)
         SELECT doc_id, lang, 'web' AS mix_source FROM h
         WHERE lang = 'en' AND hv < 1717986918
         UNION ALL
         SELECT doc_id, lang, 'code' AS mix_source FROM h
         WHERE lang <> 'en' AND hv < 536870912""",
    "q_dedup_corpus_best" ->
      // same closure CTEs as q_dedup_corpus; winner = max n_chars per
      // cluster, ties to lowest doc_id
      """WITH RECURSIVE sh AS (SELECT doc_id, lang, source,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         e AS (SELECT id_a AS u, id_b AS v FROM pr
               UNION SELECT id_b, id_a FROM pr),
         reach(u, v) AS (SELECT u, v FROM e
               UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
                     WHERE e.v <> r.u),
         lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster
                 FROM reach GROUP BY u),
         win AS (SELECT doc_id FROM (
             SELECT d.doc_id, row_number() OVER (
               PARTITION BY lbl.cluster
               ORDER BY d.n_chars DESC, d.doc_id) AS rn
             FROM documents d JOIN lbl ON d.doc_id = lbl.doc_id) WHERE rn = 1)
         SELECT d.doc_id, d.lang, d.source, d.n_chars
         FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
         WHERE lbl.cluster IS NULL
            OR d.doc_id IN (SELECT doc_id FROM win)""",
    "q_shuffle_order" ->
      """SELECT row_number() OVER (
             ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345)
                      % 2147483648, doc_id) - 1 AS ord,
           doc_id, lang
         FROM documents""",
    "q_shuffle_order_scalable" ->
      // same total order, same ordinals — the distributed path must be
      // indistinguishable from the window formulation
      """SELECT row_number() OVER (
             ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345)
                      % 2147483648, doc_id) - 1 AS ord,
           doc_id, lang
         FROM documents""",
    "q_text_normalize" ->
      // same noise suffix via chr(); 'g' flag = replace ALL (Spark's
      // regexp_replace default)
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(
             text || chr(9) || '  mixed ' || chr(7) || ' tail'
                  || chr(10) || chr(10),
             '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS norm,
           length(trim(regexp_replace(regexp_replace(
             text || chr(9) || '  mixed ' || chr(7) || ' tail'
                  || chr(10) || chr(10),
             '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g'))) AS n_norm
         FROM documents""",
    "q_text_unicode" ->
      // NFKC replay over the controlled suffix character set: the base
      // corpus is ASCII (enforced by the filter), so replace() maps
      // each compatibility char to its NFKC image (ligature fi,
      // fullwidth Full, circled 1, superscript 2, e+combining-acute ->
      // e-acute, NBSP/ideographic space -> space, ZWSP removed), then
      // the same ASCII control+collapse+trim chain as q_text_normalize.
      // Script counts replay via RE2 \p{Script} classes.
      """WITH s AS (
           SELECT doc_id, text || ' ' || CASE CAST(doc_id % 6 AS INTEGER)
             WHEN 0 THEN chr(64257) || 'nance ' || chr(9312)
             WHEN 1 THEN chr(65318) || chr(65365) || chr(65356)
                         || chr(65356) || ' x' || chr(178)
             WHEN 2 THEN 'e' || chr(769) || 'clair नमस्ते'
             WHEN 3 THEN 'привет мир αβγ'
             WHEN 4 THEN '中文測試 カタカナ ひらがな'
             WHEN 5 THEN '한국어 שלום عربى' || chr(8203) || 'z'
                         || chr(160) || chr(12288) || 'end' || chr(7)
             END AS raw
           FROM documents
           WHERE NOT regexp_matches(text, '[^\x00-\x7f]')
         ), img AS (
           SELECT doc_id,
             replace(replace(replace(replace(replace(replace(replace(
             replace(replace(replace(raw,
               chr(64257), 'fi'), chr(9312), '1'), chr(65318), 'F'),
               chr(65365), 'u'), chr(65356), 'l'), chr(178), '2'),
               'e' || chr(769), chr(233)), chr(8203), ''),
               chr(160), ' '), chr(12288), ' ') AS t
           FROM s
         ), n AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(t,
             '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
           FROM img
         )
         SELECT doc_id, norm_text,
           CAST(len(regexp_extract_all(norm_text, '\p{Latin}')) AS BIGINT) AS n_latin,
           CAST(len(regexp_extract_all(norm_text, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
           CAST(len(regexp_extract_all(norm_text, '\p{Han}')) AS BIGINT) AS n_han,
           CAST(len(regexp_extract_all(norm_text, '\p{Arabic}')) AS BIGINT) AS n_arabic,
           CAST(len(regexp_extract_all(norm_text, '\p{Devanagari}')) AS BIGINT) AS n_devanagari,
           CAST(len(regexp_extract_all(norm_text, '\p{Hangul}')) AS BIGINT) AS n_hangul,
           CAST(len(regexp_extract_all(norm_text, '[\p{Hiragana}\p{Katakana}]')) AS BIGINT) AS n_kana,
           CAST(len(regexp_extract_all(norm_text, '\p{Greek}')) AS BIGINT) AS n_greek,
           CAST(len(regexp_extract_all(norm_text, '\p{Hebrew}')) AS BIGINT) AS n_hebrew
         FROM n""",
    "q_cms_freq" ->
      // count-min replay: corpus tokens and probe literals hash through
      // ONE shared FNV + golden-ratio-xor + fmix64 chain (split 32-bit
      // multiplies as in q_hll_distinct), sketch = per-(depth, bucket)
      // counts, estimate = min over depths — all-integer, exact
      """WITH ks AS (SELECT * FROM (VALUES
             (0, CAST(0 AS HUGEINT)),
             (1, CAST(11400714819323198485 AS HUGEINT)),
             (2, CAST(4354685564936845354 AS HUGEINT)),
             (3, CAST(15755400384260043839 AS HUGEINT))) AS t(j, k)),
         probes AS (SELECT * FROM (VALUES ('join'),('hash'),('filter'),
             ('scan'),('the'),('qzxv')) AS p(token)),
         alltok AS (SELECT 'c' AS src, g AS tok FROM
             (SELECT unnest(list_filter(string_split_regex(
                lower(trim(text)), '\s+'), x -> x <> '')) AS g
              FROM documents)
           UNION ALL SELECT 'p', token FROM probes),
         fh AS (SELECT src, tok,
             list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(range(0, octet_length(encode(tok))),
                   i -> CAST(CAST(('0x' || substr(hex(encode(tok)),
                        CAST(i*2+1 AS BIGINT), 2)) AS INTEGER) AS HUGEINT))),
               (acc, byte) -> (xor(acc, byte) * 1099511628211)
                 % 18446744073709551616) AS fh
           FROM alltok),
         jx AS (SELECT src, tok, ks.j, xor(fh.fh, ks.k) AS a FROM fh, ks),
         x1 AS (SELECT src, tok, j, xor(a, a // 8589934592) AS a2 FROM jx),
         x2 AS (SELECT src, tok, j,
             ((a2 % 4294967296) * 18397679294719823053
              + ((a2 // 4294967296) * 18397679294719823053 % 4294967296)
                * 4294967296) % 18446744073709551616 AS b
           FROM x1),
         x3 AS (SELECT src, tok, j, xor(b, b // 8589934592) AS c FROM x2),
         x4 AS (SELECT src, tok, j,
             ((c % 4294967296) * 14181476777654086739
              + ((c // 4294967296) * 14181476777654086739 % 4294967296)
                * 4294967296) % 18446744073709551616 AS dd
           FROM x3),
         bk AS (SELECT src, tok, j,
             CAST(xor(dd, dd // 8589934592) % 1024 AS BIGINT) AS bucket
           FROM x4),
         sketch AS (SELECT j, bucket, count(*) AS cnt
           FROM bk WHERE src = 'c' GROUP BY 1, 2),
         pb AS (SELECT tok AS token, j, bucket FROM bk WHERE src = 'p')
         SELECT pb.token,
           CAST(MIN(coalesce(sketch.cnt, 0)) AS BIGINT) AS est_count
         FROM pb LEFT JOIN sketch USING (j, bucket)
         GROUP BY 1""",
    "q_bpe_train" -> (s"WITH $bpeCtes " +
      (1 to bpeMergeCount).map(t =>
        s"SELECT $t AS merge_rank, pr AS pair, cnt AS pair_count FROM b$t")
        .mkString(" UNION ALL ")),
    "q_bpe_apply" ->
      s"""WITH $bpeCtes SELECT token,
           CAST(SUM(wc) AS BIGINT) AS n_occurrences
         FROM (SELECT unnest(string_split(trim(seg), ' ')) AS token, wc
               FROM w$bpeMergeCount) GROUP BY 1""",
    "q_bpe_fertility" ->
      // the full trajectory replay again, then the per-language
      // occurrence-weighted subwords-per-word ratio: (lang, word)
      // counts join the vocab's final segmentation lengths
      s"""WITH $bpeCtes,
         lw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS lwc FROM (
             SELECT lang, unnest(list_filter(string_split_regex(
               lower(trim(text)), '\\s+'), x -> x <> '')) AS w
             FROM documents) GROUP BY 1, 2),
         sub AS (SELECT w, CAST(len(string_split(trim(seg), ' '))
               AS BIGINT) AS n_sub
           FROM w$bpeMergeCount)
         SELECT lang,
           CAST(SUM(lwc) AS BIGINT) AS n_words,
           CAST(SUM(lwc * n_sub) AS BIGINT) AS n_subwords,
           round(CAST(SUM(lwc * n_sub) AS DOUBLE)
                 / CAST(SUM(lwc) AS DOUBLE), 6) AS fertility
         FROM lw JOIN sub USING (w)
         GROUP BY 1""",
    "q_hll_distinct" -> hllDistinctSql,
    "q_multimodal_ann" ->
      // same stub-decode feature CTEs, UNROUNDED float-exact values, then
      // the brute-force cosine pattern (ordered sums = Spark's fold)
      """WITH d AS (
           SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS len
           FROM documents
         ), p AS (
           SELECT doc_id, h, len, LEAST(1 + (len % 64), len) AS px_len
           FROM d
         ), bytes AS (
           SELECT p.doc_id, g.i,
                  CAST(('0x' || substr(p.h, CAST(g.i*2+1 AS BIGINT), 2))
                       AS INTEGER) AS b
           FROM p, generate_series(0, 63) AS g(i)
           WHERE g.i < p.px_len
         ), f AS (
           SELECT p.doc_id, g.i AS feat_idx,
                  GREATEST(1, p.px_len // 8) AS block, p.px_len
           FROM p, generate_series(0, 7) AS g(i)
         ), fv AS (
           SELECT f.doc_id, f.feat_idx, COUNT(b.b) AS n, SUM(b.b) AS s
           FROM f LEFT JOIN bytes b
             ON b.doc_id = f.doc_id
            AND b.i >= f.feat_idx * f.block
            AND b.i < LEAST((f.feat_idx + 1) * f.block, f.px_len)
           GROUP BY f.doc_id, f.feat_idx
         ), el AS (
           SELECT doc_id, feat_idx AS i,
                  CASE WHEN n = 0 THEN 0.0
                       ELSE CAST(CAST(s::DOUBLE / n / 255.0 AS FLOAT)
                            AS DOUBLE) END AS v
           FROM fv
         ), n2 AS (SELECT doc_id, sqrt(SUM(v*v ORDER BY i)) AS nrm
                   FROM el GROUP BY 1),
         dots AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                 SUM(q.v * c.v ORDER BY q.i) AS dot
               FROM el q JOIN el c ON q.i = c.i
               WHERE q.doc_id < 5 AND q.doc_id <> c.doc_id GROUP BY 1, 2),
         sc AS (SELECT query_id, neighbor_id,
                 dot / (nq.nrm * nc.nrm) AS cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rank
               FROM dots JOIN n2 nq ON nq.doc_id = query_id
                      JOIN n2 nc ON nc.doc_id = neighbor_id)
         SELECT query_id, rank, neighbor_id, round(cos, 9) AS cos
         FROM sc WHERE rank <= 3""",
    "q_sessionize" -> cq(
      """, lagd AS (
           SELECT band, y, x, time, value,
             CASE WHEN lag(time) OVER (PARTITION BY band, y, x
                                       ORDER BY time) IS NULL
                   OR epoch_us(time) - epoch_us(lag(time) OVER (
                        PARTITION BY band, y, x ORDER BY time))
                      > 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM cube),
         sess AS (
           SELECT band, y, x, time, value,
             SUM(ns) OVER (PARTITION BY band, y, x ORDER BY time
                           ROWS UNBOUNDED PRECEDING) AS sid
           FROM lagd)
         SELECT band, y, x, MIN(time) AS start, MAX(time) AS "end",
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM sess GROUP BY band, y, x, sid"""),
    "q_dedup_simhash" -> simhashPairsSql,
    "q_simjoin_prefix" ->
      // prefix filtering has perfect recall, so the oracle is the plain
      // GLOBAL all-pairs join (no block keys) — identical output set
      """WITH sh AS (SELECT doc_id,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.5""",
    "q_ngram_jaccard" ->
      """WITH sh AS (SELECT doc_id, lang, source,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.5""",
    "q_dedup_clusters" ->
      // same pair CTE as q_ngram_jaccard, then the transitive closure as
      // a recursive CTE (set-semantics UNION terminates); cluster =
      // minimum reachable id, matching the large/small-star fixpoint
      """WITH RECURSIVE sh AS (SELECT doc_id, lang, source,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         e AS (SELECT id_a AS u, id_b AS v FROM pr
               UNION SELECT id_b, id_a FROM pr),
         reach(u, v) AS (SELECT u, v FROM e
               UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
                     WHERE e.v <> r.u)
         SELECT u AS doc_id, least(u, min(v)) AS cluster
         FROM reach GROUP BY u""",
    "q_dedup_corpus" ->
      """WITH RECURSIVE sh AS (SELECT doc_id, lang, source,
             list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(t[i:i+2], ' '))), x -> x <> '') AS s
           FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b
             ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         e AS (SELECT id_a AS u, id_b AS v FROM pr
               UNION SELECT id_b, id_a FROM pr),
         reach(u, v) AS (SELECT u, v FROM e
               UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
                     WHERE e.v <> r.u),
         lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster
                 FROM reach GROUP BY u)
         SELECT d.doc_id, d.lang, d.source, d.n_chars
         FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
         WHERE lbl.cluster IS NULL OR lbl.cluster = d.doc_id""",
    "q_ann_topk" ->
      // ordered-aggregate dot product matches Spark's left-to-right
      // `aggregate` fold bit-for-bit (see Similarity scaladoc)
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         n AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm FROM el GROUP BY 1),
         d AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(q.v * c.v ORDER BY q.i) AS dot
               FROM el q JOIN el c ON q.i = c.i
               WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id GROUP BY 1, 2),
         s AS (SELECT query_id, neighbor_id,
                 dot / (nq.nrm * nc.nrm) AS cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rank
               FROM d JOIN n nq ON nq.vec_id = query_id
                      JOIN n nc ON nc.vec_id = neighbor_id)
         SELECT query_id, rank, neighbor_id, round(cos, 9) AS cos
         FROM s WHERE rank <= 5""",
    "q_margin_mine" ->
      // both top-4 lists replayed (raw-cos rank, id tie-break), the two
      // half-averages from 1e-9-long-quantized rounded cosines, one
      // division each — then margin = cos / (ha + hb), rounded 9
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         n AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm
           FROM el GROUP BY 1),
         d AS (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
                 SUM(s.v * t.v ORDER BY s.i) AS dot
               FROM el s JOIN el t ON s.i = t.i
               WHERE s.vec_id % 2 = 0 AND s.vec_id < 100
                 AND t.vec_id % 2 = 1
               GROUP BY 1, 2),
         sc AS (SELECT src_id, tgt_id, dot / (ns.nrm * nt.nrm) AS raw
               FROM d JOIN n ns ON ns.vec_id = src_id
                      JOIN n nt ON nt.vec_id = tgt_id),
         fwd AS (SELECT src_id, tgt_id, round(raw, 9) AS cos FROM
             (SELECT sc.*, row_number() OVER (PARTITION BY src_id
                ORDER BY raw DESC, tgt_id) AS rk FROM sc)
           WHERE rk <= 4),
         bwd AS (SELECT src_id, tgt_id, round(raw, 9) AS cos FROM
             (SELECT sc.*, row_number() OVER (PARTITION BY tgt_id
                ORDER BY raw DESC, src_id) AS rk FROM sc)
           WHERE rk <= 4),
         ha AS (SELECT src_id, CAST(SUM(CAST(round(cos * 1000000000.0, 0)
                 AS BIGINT)) AS DOUBLE) / 8000000000.0 AS ha
           FROM fwd GROUP BY 1),
         hb AS (SELECT tgt_id, CAST(SUM(CAST(round(cos * 1000000000.0, 0)
                 AS BIGINT)) AS DOUBLE) / 8000000000.0 AS hb
           FROM bwd GROUP BY 1),
         pairs AS (SELECT DISTINCT src_id, tgt_id, cos FROM
           (SELECT * FROM fwd UNION ALL SELECT * FROM bwd))
         SELECT p.src_id, p.tgt_id, p.cos,
                round(p.cos / (ha.ha + hb.hb), 9) AS margin
         FROM pairs p JOIN ha ON ha.src_id = p.src_id
                      JOIN hb ON hb.tgt_id = p.tgt_id""",
    "q_ann_topk_lsh" ->
      // sign bits from the embedded hyperplane literals; 4-bit band keys;
      // candidates share a (band, key); exact cosine re-rank like q_ann_topk
      s"""WITH planes(p, i, coef) AS (VALUES $lshPlanesValues),
         el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         bits AS (SELECT e.vec_id, pl.p,
             CASE WHEN SUM(pl.coef * e.v ORDER BY e.i) > 0
                  THEN 1 ELSE 0 END AS bit
           FROM el e JOIN planes pl ON pl.i = e.i GROUP BY 1, 2),
         keys AS (SELECT vec_id, p // 4 AS band,
             SUM(bit * (1 << (p % 4))) AS key FROM bits GROUP BY 1, 2),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM keys q JOIN keys c ON q.band = c.band AND q.key = c.key
           WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         n AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm FROM el GROUP BY 1),
         d AS (SELECT cd.query_id, cd.neighbor_id,
                 SUM(q.v * c.v ORDER BY q.i) AS dot
               FROM cand cd JOIN el q ON q.vec_id = cd.query_id
                    JOIN el c ON c.vec_id = cd.neighbor_id AND c.i = q.i
               GROUP BY 1, 2),
         s AS (SELECT query_id, neighbor_id,
                 dot / (nq.nrm * nc.nrm) AS cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rank
               FROM d JOIN n nq ON nq.vec_id = query_id
                      JOIN n nc ON nc.vec_id = neighbor_id)
         SELECT query_id, rank, neighbor_id, round(cos, 9) AS cos
         FROM s WHERE rank <= 5""",
    "q_ann_topk_ivf" -> oracleSqlIvf,
    // the persisted-index serving path is result-identical to the
    // in-memory IVF (same probes, same scoring over losslessly
    // round-tripped vectors) — oracle shared verbatim, like q_asof_native
    "q_ann_index" -> oracleSqlIvf,
    // rebuild with the same deterministic centroids is result-identical
    // to the one-shot build (the row gates the swap mechanics)
    "q_ann_retrain" -> oracleSqlIvf,
    "q_ann_drift" -> (oracleIvfAssignedCte +
      """,
         c AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM assigned GROUP BY 1)
         SELECT centroid_id, n,
                n / ((SELECT SUM(n) FROM c) /
                     CAST((SELECT COUNT(*) FROM c) AS DOUBLE))
           AS ratio_to_mean
         FROM c"""),
    // incremental build+append serves the identical result — argmin
    // assignment against frozen centroids is batch-invariant
    "q_ann_append" -> oracleSqlIvf,
    "q_knn_join" -> knnJoinSql,
    "q_graph_knn" -> knnJoinSql,
    "q_ann_topk_pq" ->
      // PQ-ADC: centroids = subvector slices of the 16 lowest-id rows
      // (s = subspace 0-3, j = dim within subspace); code assignment by
      // the same |v|² − 2·v·c + |c|² expansion as Spark's argmin with
      // ties to the lowest code; approximate cos = LUT sum over s /
      // (|q| · reconstructed |v̂|) — every sum ordered to match Spark's
      // left-to-right folds bit-for-bit
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         sel AS (SELECT vec_id, (i-1)//16 AS s, i - ((i-1)//16)*16 AS j, v
                 FROM el),
         cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
             embedding FROM embeddings ORDER BY vec_id LIMIT 16),
         cel AS (SELECT c, (i-1)//16 AS s, i - ((i-1)//16)*16 AS j, cv FROM
             (SELECT c, CAST(unnest(embedding) AS DOUBLE) AS cv,
                generate_subscripts(embedding, 1) AS i FROM cents)),
         cn2 AS (SELECT c, s, SUM(cv*cv ORDER BY j) AS nc2
                 FROM cel GROUP BY 1, 2),
         vn2 AS (SELECT vec_id, s, SUM(v*v ORDER BY j) AS n2v
                 FROM sel GROUP BY 1, 2),
         vdot AS (SELECT e.vec_id, ce.c, ce.s,
               SUM(e.v * ce.cv ORDER BY e.j) AS dvc
             FROM sel e JOIN cel ce ON ce.s = e.s AND ce.j = e.j
             GROUP BY 1, 2, 3),
         dist AS (SELECT d.vec_id, d.s, d.c,
               ((v.n2v - (2.0 * d.dvc)) + c2.nc2) AS d2
             FROM vdot d JOIN vn2 v ON v.vec_id = d.vec_id AND v.s = d.s
                  JOIN cn2 c2 ON c2.c = d.c AND c2.s = d.s),
         codes AS (SELECT vec_id, s, c FROM (
               SELECT vec_id, s, c, row_number() OVER (
                 PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM dist)
             WHERE rn = 1),
         rrn AS (SELECT cd.vec_id, sqrt(SUM(c2.nc2 ORDER BY cd.s)) AS rn
                 FROM codes cd JOIN cn2 c2 ON c2.c = cd.c AND c2.s = cd.s
                 GROUP BY 1),
         qn AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm FROM el
                WHERE vec_id < 10 GROUP BY 1),
         qlut AS (SELECT q.vec_id AS query_id, ce.c, ce.s,
               SUM(q.v * ce.cv ORDER BY q.j) AS qdot
             FROM sel q JOIN cel ce ON ce.s = q.s AND ce.j = q.j
             WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         approx AS (SELECT l.query_id, cd.vec_id AS neighbor_id,
               SUM(l.qdot ORDER BY cd.s) AS adot
             FROM codes cd JOIN qlut l ON l.c = cd.c AND l.s = cd.s
             WHERE l.query_id <> cd.vec_id GROUP BY 1, 2),
         sc AS (SELECT a.query_id, a.neighbor_id,
               a.adot / (q.nrm * r.rn) AS cos,
               row_number() OVER (PARTITION BY a.query_id
                 ORDER BY a.adot / (q.nrm * r.rn) DESC, a.neighbor_id) AS rank
             FROM approx a JOIN qn q ON q.vec_id = a.query_id
                  JOIN rrn r ON r.vec_id = a.neighbor_id)
         SELECT query_id, rank, neighbor_id, round(cos, 9) AS cos
         FROM sc WHERE rank <= 5""",
    "q_ann_topk_ivfpq" -> ivfPqTopkSql,
    // the PQ store serves the identical chain from persisted codes —
    // oracle shared verbatim
    "q_ann_index_pq" -> ivfPqTopkSql,
    "q_ann_recall_ivfpq" ->
      // recall@5 of the IVF-PQ residual-ADC tier against exact brute
      // force: ex = the exact chain (q_ann_topk's), ap = the ivfpq
      // chain VERBATIM as a subquery (DuckDB scopes its WITH locally)
      s"""WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         n AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm
               FROM el GROUP BY 1),
         bd AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(q.v * c.v ORDER BY q.i) AS dot
               FROM el q JOIN el c ON q.i = c.i
               WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id GROUP BY 1, 2),
         ex AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY dot / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rank
             FROM bd JOIN n nq ON nq.vec_id = query_id
                  JOIN n nc ON nc.vec_id = neighbor_id)
           WHERE rank <= 5),
         ap AS (SELECT query_id, neighbor_id FROM ($ivfPqTopkSql))
         SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           CAST(count(a.neighbor_id) AS DOUBLE) / 5.0 AS recall
         FROM ex e LEFT JOIN ap a
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY 1""",
    "q_ann_topk_int8" ->
      // per-vector scale = max|v|/127; codes = HALF_UP(v/scale);
      // reconstructed rv = code*scale; cosine = full-precision query ·
      // reconstructed corpus, all sums ordered to match Spark's folds
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         sc AS (SELECT vec_id, MAX(abs(v)) / 127.0 AS s FROM el GROUP BY 1),
         rc AS (SELECT e.vec_id, e.i,
             (CASE WHEN sc.s = 0.0 THEN 0.0
                   ELSE round(e.v / sc.s, 0) END) * sc.s AS rv
           FROM el e JOIN sc ON sc.vec_id = e.vec_id),
         cn AS (SELECT vec_id, sqrt(SUM(rv*rv ORDER BY i)) AS nrm
                FROM rc GROUP BY 1),
         qn AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm
                FROM el WHERE vec_id < 10 GROUP BY 1),
         d AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(q.v * c.rv ORDER BY q.i) AS dot
               FROM el q JOIN rc c ON c.i = q.i AND q.vec_id <> c.vec_id
               WHERE q.vec_id < 10 GROUP BY 1, 2),
         s AS (SELECT query_id, neighbor_id,
                 dot / (qn.nrm * cn.nrm) AS cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / (qn.nrm * cn.nrm) DESC, neighbor_id) AS rank
               FROM d JOIN qn ON qn.vec_id = query_id
                    JOIN cn ON cn.vec_id = neighbor_id)
         SELECT query_id, rank, neighbor_id, round(cos, 9) AS cos
         FROM s WHERE rank <= 5""",
    "q_dedup_embedding" ->
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         n AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm FROM el GROUP BY 1),
         d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 SUM(a.v * b.v ORDER BY a.i) AS dot
               FROM el a JOIN el b ON a.i = b.i AND a.vec_id < b.vec_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 9) AS cos
         FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         WHERE dot / (na.nrm * nb.nrm) >= 0.4""",
    "q_embed_project" ->
      // sign(k,j) from the identical LCG ((k*64+j) % 2^31 * A + C) % 2^31
      // < 2^30; y = ordered SUM of embedding*sign, scaled by the exact
      // 1/sqrt(16) = 0.25
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) - 1 AS j FROM embeddings),
         s AS (SELECT k.k, j.j,
             CASE WHEN (((k.k*64 + j.j) % 2147483648) * 1103515245 + 12345)
                  % 2147483648 < 1073741824 THEN 1.0 ELSE -1.0 END AS sgn
           FROM range(0, 16) AS k(k), range(0, 64) AS j(j))
         SELECT el.vec_id, CAST(s.k AS INTEGER) AS k,
           SUM(el.v * s.sgn ORDER BY el.j) * 0.25 AS y
         FROM el JOIN s ON s.j = el.j
         GROUP BY el.vec_id, s.k""",
    "q_semdedup" ->
      // same lowest-id coarse centroids + |v|² − 2·v·c + |c|² argmin as
      // q_ann_topk_ivf; within-cluster witness pairs (earlier id, cosine
      // >= tau) mark the dropped side
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             embedding FROM embeddings ORDER BY vec_id LIMIT 16),
         cel AS (SELECT centroid_id, CAST(unnest(embedding) AS DOUBLE) AS cv,
             generate_subscripts(embedding, 1) AS i FROM cents),
         cn2 AS (SELECT centroid_id, SUM(cv*cv ORDER BY i) AS nc2
                 FROM cel GROUP BY 1),
         n2 AS (SELECT vec_id, SUM(v*v ORDER BY i) AS n2v FROM el GROUP BY 1),
         vdot AS (SELECT e.vec_id, c.centroid_id,
             SUM(e.v * c.cv ORDER BY e.i) AS dvc
           FROM el e JOIN cel c ON c.i = e.i GROUP BY 1, 2),
         dist AS (SELECT v.vec_id, v.centroid_id,
             ((n2.n2v - (2.0 * v.dvc)) + cn2.nc2) AS d2
           FROM vdot v JOIN n2 ON n2.vec_id = v.vec_id
                JOIN cn2 ON cn2.centroid_id = v.centroid_id),
         assigned AS (SELECT vec_id, centroid_id AS cluster FROM (
             SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY d2, centroid_id) AS rn FROM dist) WHERE rn = 1),
         nrm AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm
                 FROM el GROUP BY 1),
         pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb
           FROM assigned a JOIN assigned b
             ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         pd AS (SELECT p.ida, p.idb, SUM(ea.v * eb.v ORDER BY ea.i) AS dot
           FROM pairs p JOIN el ea ON ea.vec_id = p.ida
                JOIN el eb ON eb.vec_id = p.idb AND eb.i = ea.i
           GROUP BY 1, 2),
         dropped AS (SELECT DISTINCT pd.idb AS vec_id
           FROM pd JOIN nrm na ON na.vec_id = pd.ida
                JOIN nrm nb ON nb.vec_id = pd.idb
           WHERE pd.dot / (na.nrm * nb.nrm) >= 0.4)
         SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
         FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id""",
    "q_pca_gram" ->
      // quantized-product integer sums are order-free, so the plain SQL
      // group-by reproduces the Aggregator's merge exactly. The outer
      // CAST matters: DuckDB SUM(BIGINT) widens to HUGEINT, which
      // pandas materializes as float64 and a dtype-sensitive compare
      // rejects — force BIGINT (and INTEGER subscripts to match
      // Spark's int i/j) so dtypes agree bit-for-bit.
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS i
           FROM embeddings)
         SELECT a.i AS i, b.i AS j,
           CAST(SUM(CAST(round(a.v * b.v * 1000000.0, 0) AS BIGINT))
                AS BIGINT) AS gq
         FROM el a JOIN el b ON b.vec_id = a.vec_id AND b.i >= a.i
         GROUP BY 1, 2""",
    "q_sql_surface" ->
      // FNV-1a over the whole lowered text (HUGEINT byte fold mod 2^64,
      // as the hashed-classifier oracle) + the ordered self-dot
      """WITH fb AS (SELECT doc_id,
             CAST(list_reduce(
               list_prepend(CAST(14695981039346656037 AS HUGEINT),
                 list_transform(
                   range(0, octet_length(encode(lower(trim(text))))),
                   i -> CAST(CAST(('0x' || substr(
                        hex(encode(lower(trim(text)))),
                        CAST(i*2+1 AS BIGINT), 2)) AS INTEGER) AS HUGEINT))),
               (acc, byte) -> (xor(acc, byte) * 1099511628211)
                 % 18446744073709551616) % 64 AS BIGINT) AS bucket
           FROM documents),
         sd AS (SELECT vec_id,
             SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS s
           FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
           GROUP BY 1)
         SELECT d.doc_id, fb.bucket, round(sd.s, 6) AS self_dot
         FROM documents d
         JOIN fb ON fb.doc_id = d.doc_id
         JOIN sd ON sd.vec_id = d.doc_id""",
    "q_pca_project" -> pcaReplaySql(whiten = false),
    "q_pca_whiten" -> pcaReplaySql(whiten = true),
    "q_d4_diversify" -> d4DiversifySql,
    // the graph-compiled diversify pins the same lowest-id centroid
    // convention, so it shares the batch oracle verbatim
    "q_graph_diversify" -> d4DiversifySql,
        "q_bm25" -> bm25Sql,
    // served from the persisted inverted index: bucketed-postings probe
    // + stored stats reproduce the direct scoring bit-exactly, so the
    // oracle is shared verbatim
    "q_search_indexed" -> bm25Sql,
    // segmented (base + 2 appended shards) store aggregates exact long
    // stats/df sums -> result-identical to the one-shot build and to
    // q_bm25; oracle shared verbatim
    "q_search_append" -> bm25Sql,
    // the graph-compiled bm25 process calls the same Scala operator, so
    // it shares the oracle verbatim
    "q_graph_bm25" -> bm25Sql,
    // deterministic rank (score desc, id asc) on both sides, so the
    // LIMIT cut is stable
    "q_search_topk" ->
      s"SELECT * FROM ($bm25Sql) ORDER BY score DESC, doc_id LIMIT 20",
    // both runs replayed (BM25 verbatim; cosine like q_ann_topk for
    // query 7), then the rank windows + fixed-order reciprocal adds
    "q_hybrid_search" ->
      s"""WITH lex AS (SELECT doc_id, score FROM ($bm25Sql)),
         lexr0 AS (SELECT doc_id, row_number() OVER
             (ORDER BY score DESC, doc_id) AS rank_a FROM lex),
         lexr AS (SELECT CAST(7 AS BIGINT) AS query_id, doc_id,
             CAST(rank_a AS BIGINT) AS rank_a
           FROM lexr0 WHERE rank_a <= 20),
         el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         n AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm
           FROM el GROUP BY 1),
         d AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(q.v * c.v ORDER BY q.i) AS dot
               FROM el q JOIN el c ON q.i = c.i
               WHERE q.vec_id = 7 AND c.vec_id <> 7 GROUP BY 1, 2),
         sc AS (SELECT query_id, neighbor_id,
                 dot / (nq.nrm * nc.nrm) AS cos,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rk
               FROM d JOIN n nq ON nq.vec_id = query_id
                      JOIN n nc ON nc.vec_id = neighbor_id),
         sem AS (SELECT query_id, neighbor_id AS doc_id,
             round(cos, 9) AS score FROM sc WHERE rk <= 20),
         semr AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS BIGINT) AS rank_b
           FROM sem)
         SELECT COALESCE(l.query_id, s.query_id) AS query_id,
                COALESCE(l.doc_id, s.doc_id) AS doc_id,
                l.rank_a, s.rank_b,
                round(COALESCE(1.0/(60.0 + l.rank_a), 0.0)
                    + COALESCE(1.0/(60.0 + s.rank_b), 0.0), 9) AS rrf
         FROM lexr l FULL JOIN semr s
           ON l.query_id = s.query_id AND l.doc_id = s.doc_id""",
    "q_retrieval_eval" -> {
      val kp1 = 1.2 + 1.0; val oneMinusB = 1.0 - 0.75
      val discVals = graft.text.Search.dcgDiscounts(10).zipWithIndex
        .map { case (d, i) => s"(${i + 1},$d)" }.mkString(", ")
      s"""WITH tok AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS t
           FROM documents),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(len(t)) AS BIGINT) AS sdl FROM tok),
         hits AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
             unnest(t) AS w FROM tok),
         tf AS (SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
           FROM hits WHERE w IN ('spark', 'merge', 'window')
           GROUP BY 1, 2, 3),
         dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         idf AS (SELECT w,
             ln((CAST(st.n - dfq.df AS DOUBLE) + 0.5)
               / (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0) AS idf
           FROM dfq, st),
         q AS (SELECT tf.doc_id, tf.tf,
             CAST(round(idf.idf * ((CAST(tf.tf AS DOUBLE) * $kp1)
               / (CAST(tf.tf AS DOUBLE) + 1.2 * ($oneMinusB + 0.75
                 * (tf.dl / (CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE))))))
               * 1000000000.0, 0) AS BIGINT) AS q
           FROM tf JOIN idf ON idf.w = tf.w, st),
         scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             round(CAST(SUM(q) AS DOUBLE) / 1000000000.0, 6) AS score
           FROM q GROUP BY 1),
         disc(i, d) AS (VALUES $discVals),
         topk AS (SELECT n_terms, row_number() OVER (
               ORDER BY score DESC, doc_id) AS rnk
           FROM scored QUALIFY rnk <= 10),
         dcg AS (SELECT COALESCE(SUM(CAST(t.n_terms AS DOUBLE) * dc.d
               ORDER BY t.rnk), 0.0) AS dcg
           FROM topk t JOIN disc dc ON dc.i = t.rnk),
         relg AS (SELECT CAST(n_terms AS DOUBLE) AS g FROM scored
           WHERE n_terms >= 2),
         ideal AS (SELECT g, row_number() OVER (ORDER BY g DESC) AS rnk
           FROM relg QUALIFY rnk <= 10),
         idcg AS (SELECT COALESCE(SUM(i2.g * dc.d ORDER BY i2.rnk), 0.0)
               AS idcg
           FROM ideal i2 JOIN disc dc ON dc.i = i2.rnk),
         nm AS (SELECT CAST(count(*) AS BIGINT) AS n_matched FROM scored),
         nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_relevant FROM relg),
         best AS (SELECT score AS bs, doc_id AS bd FROM scored
           WHERE n_terms >= 2 ORDER BY score DESC, doc_id LIMIT 1),
         fr AS (SELECT CAST(count(*) + 1 AS BIGINT) AS r
           FROM scored, best
           WHERE score > bs OR (score = bs AND doc_id < bd))
         SELECT nm.n_matched, nrel.n_relevant,
           CASE WHEN nrel.n_relevant = 0 THEN 0 ELSE fr.r END
             AS first_rel_rank,
           CASE WHEN nrel.n_relevant = 0 THEN 0.0 ELSE 1.0 / fr.r END
             AS mrr,
           dcg.dcg AS dcg, idcg.idcg AS idcg,
           CASE WHEN nrel.n_relevant = 0 THEN 0.0
                ELSE dcg.dcg / idcg.idcg END AS ndcg
         FROM nm, nrel, fr, dcg, idcg"""
    },
    "q_ann_recall" ->
      // exact top-5 (brute chain) LEFT-joined against the IVF top-5 at
      // nProbe=2 — per-query hit count / recall@5. Both rankings are the
      // verbatim chains of q_ann_topk / q_ann_topk_ivf (pr bound 2).
      """WITH el AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         n AS (SELECT vec_id, sqrt(SUM(v*v ORDER BY i)) AS nrm
               FROM el GROUP BY 1),
         bd AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(q.v * c.v ORDER BY q.i) AS dot
               FROM el q JOIN el c ON q.i = c.i
               WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id GROUP BY 1, 2),
         ex AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY dot / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rank
             FROM bd JOIN n nq ON nq.vec_id = query_id
                  JOIN n nc ON nc.vec_id = neighbor_id)
           WHERE rank <= 5),
         cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1
               AS centroid_id, embedding
             FROM embeddings ORDER BY vec_id LIMIT 16),
         cel AS (SELECT centroid_id, CAST(unnest(embedding) AS DOUBLE) AS cv,
             generate_subscripts(embedding, 1) AS i FROM cents),
         cn2 AS (SELECT centroid_id, SUM(cv*cv ORDER BY i) AS nc2
                 FROM cel GROUP BY 1),
         n2 AS (SELECT vec_id, SUM(v*v ORDER BY i) AS n2v FROM el GROUP BY 1),
         vdot AS (SELECT e.vec_id, c.centroid_id,
             SUM(e.v * c.cv ORDER BY e.i) AS dvc
           FROM el e JOIN cel c ON c.i = e.i GROUP BY 1, 2),
         dist AS (SELECT v.vec_id, v.centroid_id,
             ((n2.n2v - (2.0 * v.dvc)) + cn2.nc2) AS d2
           FROM vdot v JOIN n2 ON n2.vec_id = v.vec_id
                JOIN cn2 ON cn2.centroid_id = v.centroid_id),
         assigned AS (SELECT vec_id AS neighbor_id, centroid_id FROM (
             SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY d2, centroid_id) AS rn FROM dist) WHERE rn = 1),
         qd AS (SELECT e.vec_id AS query_id, c.centroid_id,
             SUM((e.v - c.cv) * (e.v - c.cv) ORDER BY e.i) AS qd2
           FROM el e JOIN cel c ON c.i = e.i
           WHERE e.vec_id < 10 GROUP BY 1, 2),
         probes AS (SELECT query_id, centroid_id FROM (
             SELECT query_id, centroid_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY qd2, centroid_id) AS pr FROM qd) WHERE pr <= 2),
         cand AS (SELECT p.query_id, a.neighbor_id
           FROM assigned a JOIN probes p ON p.centroid_id = a.centroid_id
           WHERE p.query_id <> a.neighbor_id),
         ad AS (SELECT cd.query_id, cd.neighbor_id,
                 SUM(q.v * c.v ORDER BY q.i) AS dot
               FROM cand cd JOIN el q ON q.vec_id = cd.query_id
                    JOIN el c ON c.vec_id = cd.neighbor_id AND c.i = q.i
               GROUP BY 1, 2),
         ap AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY dot / (nq.nrm * nc.nrm) DESC, neighbor_id) AS rank
             FROM ad JOIN n nq ON nq.vec_id = query_id
                  JOIN n nc ON nc.vec_id = neighbor_id)
           WHERE rank <= 5)
         SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           CAST(count(a.neighbor_id) AS DOUBLE) / 5.0 AS recall
         FROM ex e LEFT JOIN ap a
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY 1""",
    "q_top_ngrams" ->
      """WITH tok AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         wins AS (SELECT unnest(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> array_to_string(t[i:i+2], ' '))) AS gram
           FROM tok WHERE len(t) >= 3)
         SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM wins GROUP BY 1
         ORDER BY n_occurrences DESC, gram LIMIT 20""",
    "q_cap_domain" ->
      """SELECT doc_id, lang, source, n_chars FROM (
           SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents) WHERE rn <= 3""",
    "q_hashed_classifier" ->
      // unrolled replay of 2 sparse-GD iterations: FNV-1a HUGEINT byte
      // fold -> bucket = fh % 64; iter 1 has all-zero weights so sg=0.5;
      // predictor terms quantize at 1e-9, gradient terms at 1e-6 (the
      // trainer's exact arithmetic)
      s"""WITH $hashedGdCtes
         SELECT doc_id, y, round(0.5 + z/(2.0*(1.0+abs(z))), 9) AS score
         FROM zc3""",
    "q_corpus_rollup" ->
      // GROUP BY ROLLUP mirrors Spark's rollup null-filled subtotals
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS n_tokens
         FROM documents GROUP BY ROLLUP(lang, source)""",
    "q_classifier_auc_by_source" ->
      // per-source rank windows over the GD-replay scores; groups
      // lacking both classes yield NULL
      s"""WITH $hashedGdCtes,
         sc AS (SELECT z.doc_id, z.y, d.source,
             round(0.5 + z.z/(2.0*(1.0+abs(z.z))), 9) AS score
           FROM zc3 z JOIN documents d ON d.doc_id = z.doc_id),
         g AS (SELECT source, score AS s, count(*) AS n,
             CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS p
           FROM sc GROUP BY 1, 2),
         r AS (SELECT source, s, n, p,
             COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM g)
         SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n - p) AS BIGINT) AS n_neg,
           CASE WHEN SUM(p) > 0 AND SUM(n - p) > 0
             THEN round(CAST(SUM(p * (2*cum + n + 1))
                        - SUM(p) * (SUM(p) + 1) AS DOUBLE)
                   / (2.0 * SUM(p) * SUM(n - p)), 9) END AS auc
         FROM r GROUP BY 1""",
    "q_classifier_pr" ->
      // same GD-replay scores, unnested over the threshold literals;
      // counts are exact, ratios guarded NULL when undefined
      s"""WITH $hashedGdCtes,
         sc AS (SELECT doc_id, y,
             round(0.5 + z/(2.0*(1.0+abs(z))), 9) AS score FROM zc3),
         th AS (SELECT CAST(unnest([0.3, 0.45, 0.5, 0.55, 0.7]) AS DOUBLE)
             AS threshold),
         cf AS (SELECT th.threshold,
             CAST(SUM(CASE WHEN sc.score >= th.threshold AND sc.y = 1.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN sc.score >= th.threshold AND sc.y = 0.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN sc.score < th.threshold AND sc.y = 1.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn
           FROM sc, th GROUP BY 1)
         SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0
             THEN round(CAST(tp AS DOUBLE) / (tp + fp), 9) END AS precision,
           CASE WHEN tp + fn > 0
             THEN round(CAST(tp AS DOUBLE) / (tp + fn), 9) END AS recall
         FROM cf""",
    "q_classifier_calibration" ->
      // same GD-replay scores, decile-binned: floor of the identical
      // IEEE product, integer counts, 1e-6-long-quantized score sums
      s"""WITH $hashedGdCtes,
         sc AS (SELECT doc_id, y,
             round(0.5 + z/(2.0*(1.0+abs(z))), 9) AS score FROM zc3),
         b AS (SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
             y, score FROM sc)
         SELECT bin, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
           round((CAST(SUM(CAST(round(score * 1000000.0, 0) AS BIGINT))
                  AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE), 6)
             AS mean_score,
           round(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS frac_pos
         FROM b GROUP BY 1""",
    "q_classifier_auc" ->
      // the GD replay's scores feed the tie-aware rank formulation:
      // 2*avgRank = 2*cumBefore + n + 1 per score group (integer), so
      // the oracle's sums are exact up to the one division
      s"""WITH $hashedGdCtes,
         sc AS (SELECT doc_id, y,
             round(0.5 + z/(2.0*(1.0+abs(z))), 9) AS score FROM zc3),
         g AS (SELECT score AS s, count(*) AS n,
             CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS p
           FROM sc GROUP BY 1),
         r AS (SELECT s, n, p,
             COALESCE(SUM(n) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM g)
         SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n - p) AS BIGINT) AS n_neg,
           round(CAST(SUM(p * (2*cum + n + 1))
                      - SUM(p) * (SUM(p) + 1) AS DOUBLE)
                 / (2.0 * SUM(p) * SUM(n - p)), 9) AS auc
         FROM r""",
    "q_curation_pipeline_v3" -> {
      val backoff = math.log(1e-9)
      s"""WITH $hashedGdCtes,
         scored AS (SELECT doc_id,
             round(0.5 + z/(2.0*(1.0+abs(z))), 9) AS score FROM zc3),
         kept1 AS (SELECT d.* FROM documents d
           JOIN scored sc ON sc.doc_id = d.doc_id AND sc.score >= 0.5),
         tok2 AS (SELECT doc_id, lang,
             string_split_regex(lower(trim(text)), '\\s+') AS t
           FROM kept1),
         bg2 AS (SELECT doc_id, lang, unnest(list_transform(
               range(1, greatest(len(t) - 1, 0) + 1),
               i -> array_to_string(t[i:i+1], ' '))) AS gram
           FROM tok2 WHERE len(t) >= 2),
         cntb AS (SELECT gram, count(*) AS c12 FROM bg2 GROUP BY 1),
         unib AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c12) AS c1
                  FROM cntb GROUP BY 1),
         lmb AS (SELECT c.gram,
             ln(CAST(c.c12 AS DOUBLE) / CAST(u.c1 AS DOUBLE)) AS logp
           FROM cntb c JOIN unib u ON u.w1 = string_split(c.gram, ' ')[1]),
         cntt AS (SELECT gram, count(*) AS c12 FROM bg2
                  WHERE lang = 'en' GROUP BY 1),
         unit AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c12) AS c1
                  FROM cntt GROUP BY 1),
         lmt AS (SELECT c.gram,
             ln(CAST(c.c12 AS DOUBLE) / CAST(u.c1 AS DOUBLE)) AS logp
           FROM cntt c JOIN unit u ON u.w1 = string_split(c.gram, ' ')[1]),
         terms AS (SELECT b.doc_id,
             CAST(round((coalesce(t.logp, $backoff)
               - coalesce(bs.logp, $backoff)) * 1000000000.0, 0)
               AS BIGINT) AS q
           FROM bg2 b LEFT JOIN lmt t ON t.gram = b.gram
                LEFT JOIN lmb bs ON bs.gram = b.gram),
         wts AS (SELECT doc_id,
             round((CAST(SUM(q) AS DOUBLE) / 1000000000.0)
               / CAST(count(*) AS DOUBLE), 6) AS log_ratio
           FROM terms GROUP BY 1),
         capped AS (SELECT doc_id, lang, source, n_chars FROM (
             SELECT k.doc_id, k.lang, k.source, k.n_chars,
               row_number() OVER (PARTITION BY k.lang, k.source
                 ORDER BY k.n_chars DESC, k.doc_id) AS rn
             FROM kept1 k JOIN wts
               ON wts.doc_id = k.doc_id AND wts.log_ratio >= -8.0)
           WHERE rn <= 5)
         SELECT lang, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM capped GROUP BY 1"""
    },
    "q_dsir_weights" -> dsirSql,
    // the selection is the same replay ordered and limited — ties at the
    // boundary break by ascending doc_id on both sides
    "q_dsir_select" ->
      s"""SELECT doc_id, n_bigrams, log_ratio FROM ($dsirSql)
         ORDER BY log_ratio DESC, doc_id LIMIT 50""",
    "q_dsir_resample" ->
      // weight = round(exp(log_ratio), 6); keep iff LCG hash < w·2^31
      s"""SELECT doc_id, w FROM (
           SELECT doc_id, round(exp(log_ratio), 6) AS w,
             ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS hsh
           FROM ($dsirSql))
         WHERE CAST(hsh AS DOUBLE) < least(w, 1.0) * 2147483648.0""",
    "q_contamination_report" ->
      // distinct-shingle convention of decontaminateSql; the string
      // grams here and the 64-bit hashes on the Spark side have
      // identical membership (no collisions at this scale)
      """WITH tok AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         sh AS (SELECT doc_id, list_filter(list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> array_to_string(t[i:i+4], ' '))), x -> x <> '') AS s
           FROM tok),
         ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 37 = 0),
         tr AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 37 <> 0),
         hit AS (SELECT CAST(count(*) AS BIGINT) AS n_contaminated
                 FROM ev WHERE g IN (SELECT g FROM tr))
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_eval_grams,
                hit.n_contaminated,
                round(CAST(hit.n_contaminated AS DOUBLE)
                  / (SELECT CAST(count(*) AS DOUBLE) FROM ev), 6)
                  AS frac_contaminated
         FROM hit""",
    "q_image_augment" ->
      // flip-then-crop index replay: out position p maps to source
      // pixel ((y0+y)·w + (w−1−(x0+x)))·3 + c, byte fetched from
      // hex(text) at (idx mod len); checksum Σ p·byte exact-integer
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
              octet_length(encode(text)) AS len
            FROM documents WHERE octet_length(encode(text)) >= 1),
         dims AS (SELECT doc_id, hx, len,
              1 + len % 7 AS w, 1 + len % 5 AS h FROM d),
         dims2 AS (SELECT *, least(w, 2) AS w2, least(h, 2) AS h2,
              (w - least(w, 2)) // 2 AS x0, (h - least(h, 2)) // 2 AS y0
            FROM dims),
         pos AS (SELECT doc_id, hx, len, w, w2, h2, x0, y0, g.p
            FROM dims2, generate_series(0, 11) AS g(p)
            WHERE g.p < w2 * h2 * 3),
         b AS (SELECT doc_id, p, w2, h2,
             CAST(('0x' || substr(hx,
               CAST((((y0 + p // (w2*3)) * w
                      + (w - 1 - (x0 + (p % (w2*3)) // 3))) * 3 + p % 3)
                    % len * 2 + 1 AS BIGINT), 2)) AS INTEGER) AS byte
           FROM pos)
         SELECT doc_id, CAST(max(w2 * h2 * 3) AS INTEGER) AS n_px,
                CAST(SUM(p * byte) AS BIGINT) AS wsum
         FROM b GROUP BY 1""",
    "q_audio_features" ->
      // WavCodec's sample plane maps back to exactly the source bytes
      // (the q_multimodal_wav contract), so frames replay from
      // hex(text): v = byte − 128, 32-sample windows, integer-exact
      // squared sums and lag-based crossing counts
      """WITH d AS (SELECT doc_id, hex(encode(text)) AS h,
              octet_length(encode(text)) AS len
            FROM documents
            WHERE octet_length(encode(text)) >= 2
              AND octet_length(encode(text)) <= 4096),
         p AS (SELECT doc_id, h, len - (len % 2) AS n FROM d),
         bytes AS (SELECT p.doc_id, g.i,
              CAST(('0x' || substr(p.h, CAST(g.i*2+1 AS BIGINT), 2))
                   AS INTEGER) - 128 AS v
            FROM p, generate_series(0, 4095) AS g(i)
            WHERE g.i < p.n),
         fr AS (SELECT doc_id, i // 32 AS frame_idx, i, v,
              CASE WHEN i % 32 > 0 AND ((v < 0) !=
                  (lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0))
                THEN 1 ELSE 0 END AS x
            FROM bytes)
         SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(count(*) AS INTEGER) AS n_samples,
           round(sqrt(CAST(SUM(v*v) AS DOUBLE) / count(*)), 6) AS energy,
           round(CASE WHEN count(*) <= 1 THEN 0.0
             ELSE CAST(SUM(x) AS DOUBLE) / (count(*) - 1) END, 6) AS zcr
         FROM fr GROUP BY 1, 2""",
  )
}
