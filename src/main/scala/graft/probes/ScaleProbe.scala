package graft.probes

import graft.{ext, SparkEntry}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scale probe for the dedup/ANN operators: replicates the sf0.1
  * corpus REP× with per-replica text/embedding perturbation (so near-dup
  * structure stays linear — replicating verbatim would square every
  * duplicate group), then times the operators at 1× vs REP×. The point is
  * the growth EXPONENT, not the absolute seconds: an inverted-index /
  * bucketed design should scale near-linearly in rows at fixed parallelism,
  * while anything accidentally quadratic (all-pairs, hot-bucket blowup)
  * shows up immediately as a super-linear wall-time ratio.
  *
  * Usage: runMain graft.probes.ScaleProbe [rep]   (default 20×) — prints one JSON
  * line with per-operator seconds at both scales and the ratio.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val rep = if (args.nonEmpty) args(0).toInt else 20
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionTuning.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ×REP documents, two constructions:
    //
    //  - LINEAR control (docsN): every WORD gets a per-replica suffix
    //    ("fox" → "fox_r5"), so each replica's shingle set is a disjoint
    //    isomorphic copy of the 1× corpus — distinct shingles, document
    //    frequencies, prefix sizes, and output pairs all scale exactly
    //    REP×. This is the honest growth-exponent corpus (a verbatim
    //    replica corpus would square every duplicate group instead).
    //
    //  - SKEW stress (docsSkew): a replica token spliced between every
    //    word pair ("a b" → "a r5 b"). Measured at sf0.1 (Dedup.jaccardPreflight):
    //    this COLLAPSES the shingle space to ~960 distinct shingles per
    //    5000-doc replica (median df 285, max 3849), so the PPJoin
    //    candidate volume Σ_h prefixCnt(h)² inflates ~490× for 10× rows —
    //    the degenerate-corpus regime where prefix filtering cannot prune
    //    (every doc really does share shingles with most others). No exact
    //    prefix-filter algorithm is linear there; the probe keeps it as a
    //    labeled stress case to show banded MinHash-LSH stays linear on
    //    the SAME corpus (signatures collapse, buckets stay bounded).
    // lang/source ride along for the curate_full composition (stratified
    // mix keys on lang, packing shards on source); the dedup/ANN probes
    // prune them at scan time
    val docs1 = SparkEntry.table(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source")
    val reps = spark.range(rep).select(col("id").as("r"))
    val docsN = docs1.crossJoin(broadcast(reps))
      .select((col("doc_id") + col("r") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1_r"), col("r")))
          .as("text"),
        col("lang"), col("source"))
    val docsSkew = docs1.crossJoin(broadcast(reps))
      .select((col("doc_id") + col("r") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit(" "), concat(lit(" r"), col("r"), lit(" ")))
          .as("text"))
    // the 1× SKEW baseline: a single spliced replica (the same collapsed
    // shingle distribution as one slice of docsSkew) — the healthy docs1
    // would conflate shingle-space collapse with row growth
    val docsSkew1 = docs1.select(col("doc_id"),
      regexp_replace(col("text"), lit(" "), lit(" r0 ")).as("text"))

    // label rides along for the hard-negative probe; the other ANN probes
    // prune it at scan time
    val emb1 = SparkEntry.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label")
    // ×REP embeddings: tiny deterministic per-replica rotation-ish perturb
    // (+r*1e-3 on one dimension keeps near-neighbor structure per replica)
    val embN = emb1.crossJoin(broadcast(reps))
      .select((col("vec_id") + col("r") * 1000000L).as("vec_id"),
        expr("transform(embedding, (v, i) -> CAST(v + CASE WHEN i = CAST(r % 64 AS INT) THEN r * 0.001 ELSE 0.0 END AS FLOAT))")
          .as("embedding"),
        col("label"))

    // Forced materialization for ROW-PRESERVING operators (the Bench
    // pattern): hash every output column so Catalyst cannot eliminate the
    // very work being measured — a bare .count() on a row-count-invariant
    // plan (windows, per-doc maps, left joins on unique keys) lets the
    // optimizer drop the operator entirely. Pair/survivor probes keep
    // .count(): their row count IS the computation's result.
    def force(df: DataFrame): Long = {
      val h = xxhash64(df.columns.map(c => col(c).cast("string")): _*)
      df.select(h.as("__h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(__h)")).head().getLong(0)
    }

    def time(label: String)(f: => Long): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      // scalastyle:off println
      println(f"# $label%-24s $sec%8.2f s   ($n rows)")
      // scalastyle:on println
      (label, sec, n)
    }

    // optional probe subsets: `runMain graft.probes.ScaleProbe 10 r9` runs only the
    // round-9 probes (substring/dsir/soft/pack) — they need just d1/dN, so
    // the skew-stress and embedding corpora aren't even materialized;
    // `... 10 r9b` runs the continued-round-9 set (leakage split, TF-IDF
    // embeddings, cluster balance)
    val r9Only = args.length > 1 && args(1) == "r9"
    val r9bOnly = args.length > 1 && args(1) == "r9b"
    val r9cOnly = args.length > 1 && args(1) == "r9c"
    val r9dOnly = args.length > 1 && args(1) == "r9d"
    val r9eOnly = args.length > 1 && args(1) == "r9e"
    val r9fOnly = args.length > 1 && args(1) == "r9f"
    val r9gOnly = args.length > 1 && args(1) == "r9g"
    val r10Only = args.length > 1 && args(1) == "r10"
    val r10bOnly = args.length > 1 && args(1) == "r10b"
    val r11Only = args.length > 1 && args(1) == "r11"
    val r11bOnly = args.length > 1 && args(1) == "r11b"
    val r11cOnly = args.length > 1 && args(1) == "r11c"
    val r12Only = args.length > 1 && args(1) == "r12"
    val r13Only = args.length > 1 && args(1) == "r13"
    val r14Only = args.length > 1 && args(1) == "r14"
    val r14bOnly = args.length > 1 && args(1) == "r14b"
    val r15Only = args.length > 1 && args(1) == "r15"
    val r16Only = args.length > 1 && args(1) == "r16"

    // materialize inputs once so generation cost isn't attributed to operators
    val d1 = docs1.cache(); val dN = docsN.cache()
    val dSkew = docsSkew.cache(); val dSkew1 = docsSkew1.cache()
    val e1 = emb1.cache(); val eN = embN.cache()
    if (!r10Only && !r10bOnly && !r11bOnly && !r14Only && !r15Only && !r16Only) { d1.count(); dN.count() } // r11 kn/r11c probes reuse d1/dN
    if (!r9Only && !r9bOnly && !r9cOnly && !r9dOnly && !r9eOnly && !r9fOnly && !r9gOnly && !r10Only && !r10bOnly && !r11Only && !r11bOnly && !r11cOnly && !r12Only && !r13Only && !r14Only && !r15Only && !r16Only) { dSkew.count(); dSkew1.count() }
    if (!r9Only && !r9dOnly && !r9eOnly && !r9fOnly && !r10Only && !r10bOnly && !r11Only && !r11bOnly && !r11cOnly) { e1.count(); eN.count() }
    if (r9gOnly) { e1.count(); eN.count() }

    val queries1 = e1.where(col("vec_id") < 10)
    val queriesN = eN.where(col("vec_id") < 10) // same 10 queries, REP× corpus
    // IVF operating rule: nCells ∝ √N — assignment is O(N·nCells) flops, so
    // linear-in-N cells would make assignment quadratic; √N cells balance
    // assignment (N^1.5 total, N^0.5 per row) against per-cell population
    // (√N per probe). LSH rule: bits ∝ log2(N) keeps bucket population
    // constant (candidate volume per query flat as the corpus grows).
    val cells1 = 16
    val cellsN = math.max(cells1, (cells1 * math.sqrt(rep)).toInt)
    lazy val cent1 = ext.Similarity.trainCentroids(e1, nCells = cells1, iters = 2)
    lazy val centN = ext.Similarity.trainCentroids(eN, nCells = cellsN, iters = 2)
    val bitsN = 8 + (math.log(rep) / math.log(2)).round.toInt
    // force the k-means training OUTSIDE every timed closure — otherwise the
    // first probe to touch the lazy centroids (ann_ivf in the full run,
    // cluster_balance in r9b) gets training cost attributed to its label,
    // and the same label measures different work depending on the mode
    if (!r9Only && !r9dOnly && !r9eOnly && !r9fOnly && !r9gOnly && !r10Only && !r10bOnly && !r11Only && !r11bOnly && !r11cOnly && !r12Only && !r14Only && !r16Only) { cent1; centN }

    def r9Probes = Seq(
      // round-9 operators: substring dedup's sliding-gram count is the
      // hottest aggregation of the span-level path (O(n_tokens) exploded
      // rows/doc, 8-byte keys); DSIR holds the TARGET lexicon fixed (the
      // curated set doesn't grow with the crawl — the contamination shape)
      // while the raw-crawl lexicon grows with the corpus; soft dedup is
      // one count window over the content hash; greedy packing is one
      // shard shuffle + a linear per-shard pass
      time(s"substring_1x") { force(ext.Dedup.substringDedup(d1)) },
      time(s"substring_${rep}x") { force(ext.Dedup.substringDedup(dN)) },
      time(s"dsir_1x") {
        force(ext.Quality.importanceWeights(d1, d1.where(col("lang") === "en"), d1))
      },
      time(s"dsir_${rep}x") {
        force(ext.Quality.importanceWeights(dN, d1.where(col("lang") === "en"), dN))
      },
      time(s"soft_dedup_1x") { force(ext.Dedup.softDedup(d1)) },
      time(s"soft_dedup_${rep}x") { force(ext.Dedup.softDedup(dN)) },
      time(s"pack_greedy_1x") { force(ext.Hygiene.packGreedy(d1)) },
      time(s"pack_greedy_${rep}x") { force(ext.Hygiene.packGreedy(dN)) })

    def r9bProbes = Seq(
      // continued round 9: the cross-split pair graph is the jaccard
      // machinery plus a per-candidate hash predicate — its exponent must
      // track jaccard_1x/Nx; TF-IDF embedding is two aggregations + a
      // per-doc typed map (linear); cluster balance runs the IVF √N-cells
      // operating rule (assignment flops N·√N·dim, one cell window)
      time(s"leakage_1x") { ext.Curation.leakageSafeSplit(d1, 0.2).count() },
      time(s"leakage_${rep}x") { ext.Curation.leakageSafeSplit(dN, 0.2).count() },
      time(s"embed_tfidf_1x") { force(ext.TextAnalysis.embedTfidf(d1)) },
      time(s"embed_tfidf_${rep}x") { force(ext.TextAnalysis.embedTfidf(dN)) },
      time(s"cluster_balance_1x") {
        force(ext.Similarity.clusterBalance(e1, cap = 40, nCells = cells1,
          centroids = Some(cent1)))
      },
      time(s"cluster_balance_${rep}x") {
        force(ext.Similarity.clusterBalance(eN, cap = 40, nCells = cellsN,
          centroids = Some(centN)))
      })

    def r9cProbes = Seq(
      // second continued-round-9 set: span decontamination holds the
      // benchmark FIXED (the r=0 slice) like the contamination probe —
      // the corpus side is a narrow explode into a broadcast join, so the
      // exponent must be linear; novelty's inverted index crosses one
      // gram-keyed exchange (grams are replica-suffixed → df structure
      // replicates exactly REP×); IVF hard negatives run the √N-cells
      // operating rule with the same fixed 10-anchor probe as ann_ivf
      time(s"decon_spans_1x") {
        val bench = dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 === 0)
        force(ext.Hygiene.decontaminateSpans(
          dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 =!= 0),
          bench, k = 4))
      },
      time(s"decon_spans_${rep}x") {
        val bench = dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 === 0)
        force(ext.Hygiene.decontaminateSpans(
          dN.where(col("doc_id") % 50 =!= 0), bench, k = 4))
      },
      // hashKeys = the TB-scale operating mode (8-byte exchange keys); the
      // driver gate separately pins string-keyed exactness
      time(s"ngram_novelty_1x") {
        force(ext.Hygiene.ngramNovelty(d1, k = 8, hashKeys = true))
      },
      time(s"ngram_novelty_${rep}x") {
        force(ext.Hygiene.ngramNovelty(dN, k = 8, hashKeys = true))
      },
      time(s"hard_neg_ivf_1x") {
        ext.Similarity.hardNegativesIvf(e1, queries1, nCells = cells1,
          centroids = Some(cent1)).count()
      },
      time(s"hard_neg_ivf_${rep}x") {
        ext.Similarity.hardNegativesIvf(eN, queriesN, nCells = cellsN,
          centroids = Some(centN)).count()
      })


    // fifth-session probes: MG heavy hitters (sketch pass + bounded
    // recount — both must track corpus growth linearly; the candidate set
    // is distribution-bounded, not corpus-bounded), the SFT render window
    // (conversations grow in COUNT, not length, so the per-group state is
    // flat), the snapshot diff (16-byte join payloads), and exact-k
    // sampling (partial top-k per stratum, output fixed at strata*k)
    def r9dProbes = Seq(
      time(s"heavy_hitters_1x") {
        ext.Freq.heavyHitters(ext.Freq.trigrams(d1), m = 4096).count()
      },
      time(s"heavy_hitters_${rep}x") {
        ext.Freq.heavyHitters(ext.Freq.trigrams(dN), m = 4096).count()
      },
      time(s"sft_format_1x") { force(ext.Sft.renderConversations(
        d1.select((col("doc_id") % 500L).as("conv_id"), col("doc_id").as("ts"),
          col("doc_id").as("ord"),
          when(col("doc_id") % 2 === 0, "user").otherwise("assistant").as("role"),
          col("text").as("content")), "conv_id")) },
      time(s"sft_format_${rep}x") { force(ext.Sft.renderConversations(
        dN.select((col("doc_id") % (500L * rep)).as("conv_id"), col("doc_id").as("ts"),
          col("doc_id").as("ord"),
          when(col("doc_id") % 2 === 0, "user").otherwise("assistant").as("role"),
          col("text").as("content")), "conv_id")) },
      time(s"corpus_diff_1x") {
        ext.Versioning.corpusDiff(d1.where(col("doc_id") % 7 =!= 1),
          d1.where(col("doc_id") % 7 =!= 2).withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))).count()
      },
      time(s"corpus_diff_${rep}x") {
        ext.Versioning.corpusDiff(dN.where(col("doc_id") % 7 =!= 1),
          dN.where(col("doc_id") % 7 =!= 2).withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))).count()
      },
      time(s"exact_k_1x") {
        ext.Hygiene.exactKSample(d1, col("source"), col("doc_id"), 20).count()
      },
      time(s"exact_k_${rep}x") {
        ext.Hygiene.exactKSample(dN, col("source"), col("doc_id"), 20).count()
      })


    // sixth-block probes: winnowing (sha256/gram + O(n*w) argmin — must be
    // linear in tokens), its pair join (inverted index, capped posting
    // lists), and the span/FIM objective preps (pure scan-time)
    def r9eProbes = Seq(
      time(s"winnow_1x") { ext.TextAnalysis.winnow(d1).count() },
      time(s"winnow_${rep}x") { ext.TextAnalysis.winnow(dN).count() },
      time(s"winnow_pairs_1x") { ext.Dedup.winnowPairs(d1).count() },
      time(s"winnow_pairs_${rep}x") { ext.Dedup.winnowPairs(dN).count() },
      time(s"span_corrupt_1x") { force(ext.Sft.spanCorruption(d1)) },
      time(s"span_corrupt_${rep}x") { force(ext.Sft.spanCorruption(dN)) },
      time(s"fim_1x") { force(ext.Sft.fimTransform(d1)) },
      time(s"fim_${rep}x") { force(ext.Sft.fimTransform(dN)) })

    // seventh-block probes: the GloVe pair explosion (linear in
    // tokens·window — docsN's per-replica word suffixes keep replica pair
    // spaces disjoint, so distinct pairs grow rep× with constant
    // per-pair counts), the CMS counter job (bounded counter table, scan-
    // bound), and the phrase paths: the SCAN path re-tokenizes the corpus
    // (linear), the INDEX query path reads only the phrase terms' buckets
    // (built untimed — the build is the linear one-off)
    def r9fProbes = {
      val phrases1 = Seq("p1" -> Seq("table", "table"), "p2" -> Seq("agg", "join"))
      val phrasesN = Seq("p1" -> Seq("table_r0", "table_r0"), "p2" -> Seq("agg_r0", "join_r0"))
      val cmsProbes1 = Seq("table table table", "fast scan query")
      val cmsProbesN = Seq("table_r0 table_r0 table_r0", "fast_r0 scan_r0 query_r0")
      val root = java.nio.file.Files.createTempDirectory("scaleprobe_phrase").toString
      ext.Retrieval.buildPhraseIndex(d1, s"$root/i1")
      ext.Retrieval.buildPhraseIndex(dN, s"$root/iN")
      val res = Seq(
        time(s"glove_cooc_1x") { ext.TextAnalysis.cooccurrence(d1, minCount = 5).count() },
        time(s"glove_cooc_${rep}x") { ext.TextAnalysis.cooccurrence(dN, minCount = 5).count() },
        time(s"cms_est_1x") { force(ext.Freq.cmsEstimates(ext.Freq.trigrams(d1), cmsProbes1)) },
        time(s"cms_est_${rep}x") { force(ext.Freq.cmsEstimates(ext.Freq.trigrams(dN), cmsProbesN)) },
        time(s"phrase_scan_1x") { ext.Retrieval.phraseSearch(d1, phrases1).count() },
        time(s"phrase_scan_${rep}x") { ext.Retrieval.phraseSearch(dN, phrasesN).count() },
        time(s"phrase_idx_query_1x") {
          ext.Retrieval.phraseSearchIndexed(spark, s"$root/i1", phrases1).count() },
        time(s"phrase_idx_query_${rep}x") {
          ext.Retrieval.phraseSearchIndexed(spark, s"$root/iN", phrasesN).count() })
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
        ()
      }
      rm(new java.io.File(root))
      res
    }

    // eighth-block probes: the persisted cell-partitioned IVF index —
    // query cost follows the IVF square-root law (cells scale with sqrt(N), so
    // probed-cell population grows ~sqrt(rep)), vs the inline path that
    // re-assigns the whole corpus every query
    def r9gProbes = {
      val root = java.nio.file.Files.createTempDirectory("scaleprobe_ivf").toString
      val c1 = ext.Similarity.trainCentroids(e1, nCells = cells1, iters = 1)
      val cN = ext.Similarity.trainCentroids(eN, nCells = cellsN, iters = 1)
      ext.Similarity.saveIvfIndex(e1, c1, s"$root/i1")
      ext.Similarity.saveIvfIndex(eN, cN, s"$root/iN")
      val res = Seq(
        time(s"ivf_inline_1x") {
          ext.Similarity.annIvf(e1, queries1, nCells = cells1, centroids = Some(c1)).count() },
        time(s"ivf_inline_${rep}x") {
          ext.Similarity.annIvf(eN, queriesN, nCells = cellsN, centroids = Some(cN)).count() },
        time(s"ivf_idx_query_1x") {
          ext.Similarity.annIvfIndexed(spark, s"$root/i1", c1, queries1).count() },
        time(s"ivf_idx_query_${rep}x") {
          ext.Similarity.annIvfIndexed(spark, s"$root/iN", cN, queriesN).count() })
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
        ()
      }
      rm(new java.io.File(root))
      res
    }

    // round-10 graph probes, on SYNTHETIC graphs with scale-invariant
    // structure (so the growth exponent isolates the operator):
    //  - CC: disjoint 8-node chain blocks — component count scales, the
    //    diameter (→ propagation rounds) stays constant, as in real
    //    near-dup graphs where cluster size doesn't grow with the corpus;
    //  - PageRank: a pseudo-random constant-avg-degree graph (hash-drawn
    //    endpoints), 5 fixed iterations.
    def r10Probes = {
      val block = 8
      def chainGraph(nNodes: Long) = spark.range(nNodes - 1)
        .where((col("id") % block) =!= (block - 1))
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      def randGraph(nNodes: Long, avgDeg: Int = 6) = spark.range(nNodes * avgDeg)
        .select(pmod(xxhash64(col("id")), lit(nNodes)).as("a"),
          pmod(xxhash64(col("id") + 1000000007L), lit(nNodes)).as("b"))
        .where(col("a") =!= col("b"))
      val n1 = 200000L
      Seq(
        time(s"cc_1x") {
          ext.Graph.connectedComponents(chainGraph(n1), "a", "b").count() },
        time(s"cc_${rep}x") {
          ext.Graph.connectedComponents(chainGraph(n1 * rep), "a", "b").count() },
        time(s"pagerank_1x") {
          ext.Graph.pagerankInt(randGraph(n1), "a", "b", iters = 5).count() },
        time(s"pagerank_${rep}x") {
          ext.Graph.pagerankInt(randGraph(n1 * rep), "a", "b", iters = 5).count() })
    }
    // the salted-as-of skew probe: a synthetic event log where ONE key
    // holds half the rows (the mega-user regime skewReport exists to
    // detect). The unsalted form funnels that key's whole timeline
    // through one window task; the salted form spreads it over time
    // buckets. Labels are (shape)_1x = unsalted, (shape)_<rep>x = salted
    // — the "ratio" here compares the two REGIMES on the same data.
    def r10bProbes = {
      val n = 2000000L * rep / 10 // rep scales the log size
      val ev = spark.range(n).select(
          when(col("id") % 2 === 0, 0L).otherwise(pmod(xxhash64(col("id")), lit(5000L)))
            .as("k"),
          col("id").as("ts"),
          (col("id") % 1000).as("payload"))
        .localCheckpoint(true)
      val left = ev.select(col("k"), col("ts"), col("payload").as("lp"))
      val right = ev.where(col("ts") % 3 === 0)
        .select(col("k"), col("ts"), col("payload").as("rp"))
      Seq(
        time(s"asof_hotkey_1x") {
          ext.Joins.asofJoin(left, right, Seq("k"), "ts", Seq("rp")).count() },
        time(s"asof_hotkey_${rep}x") {
          ext.Joins.asofJoinSalted(left, right, Seq("k"), "ts", Seq("rp"),
            grainSeconds = n / 64).count() })
    }

    // LINEAR controls for the round-11 operators.
    //  - fuzzy join: names get a per-replica 2-char repeated-letter tag
    //    ("xaa", "xbb", ...) so cross-replica name pairs sit at distance
    //    >= 2 and every true match stays WITHIN its replica — matched
    //    pairs, candidates, and variants all scale exactly REP×.
    //  - item co-occurrence: basket AND item ids shift per replica, so
    //    each replica is a disjoint isomorphic order log.
    //  - KN bigram LM: the word-suffixed docsN corpus (disjoint
    //    per-replica vocabulary) grows the bigram-type table linearly.
    def r11Probes = {
      val cust1 = SparkEntry.table(spark, sfDir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("s")).cache()
      val custN = cust1.crossJoin(broadcast(reps))
        .select((col("id") + col("r") * 10000000L).as("id"),
          concat(col("s"), lit("x"),
            expr("repeat(chr(97 + CAST(r AS INT)), 2)")).as("s")).cache()
      cust1.count(); custN.count()
      val li1 = SparkEntry.table(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i")).cache()
      val liN = li1.crossJoin(broadcast(reps))
        .select((col("b") + col("r") * 100000000L).as("b"),
          (col("i") + col("r") * 10000000L).as("i")).cache()
      li1.count(); liN.count()
      Seq(
        time(s"fuzzy_1x") {
          ext.Fuzzy.fuzzyJoin(cust1, cust1, col("id"), col("s"), col("id"), col("s"), 1)
            .where(col("left_id") < col("right_id")).count()
        },
        time(s"fuzzy_${rep}x") {
          ext.Fuzzy.fuzzyJoin(custN, custN, col("id"), col("s"), col("id"), col("s"), 1)
            .where(col("left_id") < col("right_id")).count()
        },
        time(s"item_cooc_1x") { force(ext.Assoc.itemCooc(li1, col("b"), col("i"))) },
        time(s"item_cooc_${rep}x") { force(ext.Assoc.itemCooc(liN, col("b"), col("i"))) },
        time(s"kn_bigram_1x") { force(ext.TextAnalysis.knBigramLm(d1)) },
        time(s"kn_bigram_${rep}x") { force(ext.TextAnalysis.knBigramLm(dN)) })
    }

    // the bitext-mining crossover: the exact miner's sim matrix is
    // |src|x|tgt| (quadratic in corpus growth when both sides grow), the
    // IVF-candidate miner scans ~nProbe/nCells of it with sqrt-N cells.
    // Labels: (shape)_1x = 1x vectors, (shape)_<rep>x = rep x vectors.
    def r11bProbes = {
      if (true) { e1.count(); eN.count() }
      def halves(df: DataFrame) = (
        df.where(col("vec_id") % 2 === 0).select("vec_id", "embedding"),
        df.where(col("vec_id") % 2 === 1).select("vec_id", "embedding"))
      val (s1, t1) = halves(e1); val (sN, tN) = halves(eN)
      val cellsBx = 16
      val cellsBN = math.max(cellsBx, (cellsBx * math.sqrt(rep)).toInt)
      Seq(
        time(s"bitext_exact_1x") { ext.Similarity.bitextMine(s1, t1).count() },
        time(s"bitext_exact_${rep}x") { ext.Similarity.bitextMine(sN, tN).count() },
        time(s"bitext_ivf_1x") {
          ext.Similarity.bitextMineIvf(s1, t1, nCells = cellsBx).count() },
        time(s"bitext_ivf_${rep}x") {
          ext.Similarity.bitextMineIvf(sN, tN, nCells = cellsBN).count() })
    }

    // the rewritten round-11 heavyweights: BLEU's exploded-gram clip join
    // and the per-gram-source-set overlap matrix. The word-suffixed linear
    // corpus grows the gram tables exactly REP x (disjoint gram spaces per
    // replica, the same 20 sources), so both must hold a linear exponent.
    def r11cProbes = {
      def bleuPairs(df: DataFrame) = {
        val w = split(col("text"), " ")
        df.select(col("text").as("cand"),
          array_join(slice(w, lit(1), greatest(size(w) - 2, lit(1))), " ")
            .as("ref"))
      }
      Seq(
        time("bleu_1x") {
          force(ext.Quality.bleuCorpus(bleuPairs(d1), col("cand"), col("ref"))) },
        time(s"bleu_${rep}x") {
          force(ext.Quality.bleuCorpus(bleuPairs(dN), col("cand"), col("ref"))) },
        time("src_overlap_1x") {
          force(ext.Hygiene.sourceOverlap(d1, col("source"))) },
        time(s"src_overlap_${rep}x") {
          force(ext.Hygiene.sourceOverlap(dN, col("source"))) })
    }

    // round-12 rewrites: source overlap/novelty via the per-gram source-set
    // PATTERN table (one corpus pass → tiny (srcs, cnt) table → driver or
    // plan-side fold) and the quantile-bounds small path (one windowed
    // histogram query under the in-plan guard). The linear corpus grows
    // gram volume REP× while the pattern table and the distinct-value
    // histograms stay bounded, so both must hold a sub-linear wall ratio.
    def r12Probes = {
      if (true) { d1.count(); dN.count() }
      Seq(
        time("src_overlap2_1x") {
          force(ext.Hygiene.sourceOverlap(d1, col("source"))) },
        time(s"src_overlap2_${rep}x") {
          force(ext.Hygiene.sourceOverlap(dN, col("source"))) },
        time("src_novelty2_1x") {
          force(ext.Hygiene.sourceNovelty(d1, col("source"))) },
        time(s"src_novelty2_${rep}x") {
          force(ext.Hygiene.sourceNovelty(dN, col("source"))) },
        time("quality_ens2_1x") {
          force(ext.Quality.qualityEnsemble(d1, Seq(
            "len" -> size(split(col("text"), " ")),
            "vocab" -> size(array_distinct(split(col("text"), " "))),
            "chars" -> length(col("text"))))) },
        time(s"quality_ens2_${rep}x") {
          force(ext.Quality.qualityEnsemble(dN, Seq(
            "len" -> size(split(col("text"), " ")),
            "vocab" -> size(array_distinct(split(col("text"), " "))),
            "chars" -> length(col("text"))))) },
        // ICP ordering under the sqrt-N cells rule: cell populations (and
        // so the per-task O(m^2) walk) stay ~flat as the corpus grows.
        // DEFAULT-ARG path on purpose (round 13): icpOrder derives
        // cells ≈ √n itself, so this pins that the automatic rule — not
        // a hand-tuned nCells — is what scales
        time("icp_order_1x") {
          force(ext.Similarity.icpOrder(e1.select("vec_id", "embedding"))) },
        time(s"icp_order_${rep}x") {
          force(ext.Similarity.icpOrder(eN.select("vec_id", "embedding"))) })
    }

    // round-13 probes: the eval metrics are ROW-LOCAL native expressions
    // (chrF++ char+word gram stats, zero exchanges) so they must grow
    // ~linearly; embedding_drift's pool-fold exchange carries (side x dim)
    // keys, so its growth is the scan, not the fold; the threshold report
    // rides ONE jaccardPairs pass on the linear-control corpus
    def r13Probes = {
      if (true) { d1.count(); dN.count(); e1.count(); eN.count() }
      def pairCols(df: org.apache.spark.sql.DataFrame) = {
        val w = split(col("text"), " ")
        df.select(col("doc_id"), col("text").as("cand"),
          array_join(slice(w, lit(1), greatest(size(w) - 2, lit(1))), " ")
            .as("ref"))
      }
      Seq(
        time("chrf_pp_1x") {
          force(ext.Quality.chrfPP(pairCols(d1), col("doc_id"),
            col("cand"), col("ref"))) },
        time(s"chrf_pp_${rep}x") {
          force(ext.Quality.chrfPP(pairCols(dN), col("doc_id"),
            col("cand"), col("ref"))) },
        time("emb_drift_1x") {
          force(ext.Similarity.embeddingDrift(
            e1.where(col("vec_id") % 2 === 0), e1.where(col("vec_id") % 2 === 1))) },
        time(s"emb_drift_${rep}x") {
          force(ext.Similarity.embeddingDrift(
            eN.where(col("vec_id") % 2 === 0), eN.where(col("vec_id") % 2 === 1))) },
        time("dedup_threshold_1x") {
          force(ext.Dedup.dedupThresholdReport(d1)) },
        time(s"dedup_threshold_${rep}x") {
          force(ext.Dedup.dedupThresholdReport(dN)) })
    }
    def r14Probes = {
      e1.count(); eN.count()
      // per-task STATE pin (VERDICT r13 item 3): embeddingDrift's groups
      // are two whole slices, so the old single-level pooled fold
      // collected O(slice) (id, v) structs per (side, dim) — per-task
      // state grew linearly with the corpus and OOMs at 10^9-row slices.
      // The two-level fold bounds level-1 buffers at the fixed 4096-id
      // chunk width; the pin is MAX task peak execution memory staying
      // ~flat while rows grow REP× (wall time still grows ~linearly —
      // that's throughput, not state).
      val peak = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        }
      })
      def measured(label: String)(f: => Long): ((String, Double, Long), Double) = {
        peak.set(0)
        val r = time(label)(f)
        Thread.sleep(1500) // listener bus drains asynchronously
        (r, peak.get() / 1048576.0)
      }
      val (t1, p1) = measured("emb_drift_1x") {
        force(ext.Similarity.embeddingDrift(
          e1.where(col("vec_id") % 2 === 0), e1.where(col("vec_id") % 2 === 1))) }
      val (tN, pN) = measured(s"emb_drift_${rep}x") {
        force(ext.Similarity.embeddingDrift(
          eN.where(col("vec_id") % 2 === 0), eN.where(col("vec_id") % 2 === 1))) }
      // scalastyle:off println
      println(f"# emb_drift peak task execution memory: 1x $p1%.1f MiB, ${rep}x $pN%.1f MiB")
      // scalastyle:on println
      Seq(t1, tN,
        ("emb_drift_peak_mib_1x", p1, 0L), (s"emb_drift_peak_mib_${rep}x", pN, 0L))
    }
    // r15: the bitextAuto crossover at two sizes (the annAuto discipline):
    // the exact fused miner (plan-baked matrix, product-bound compute) vs
    // the IVF candidate path at 1× (|src|·|tgt| = 10⁶ pairs) and rep×
    // (rep=10 → 10⁸). The measured pair justifies bitextAuto's default
    // product bound (10⁷): exact wins decisively at 10⁶; IVF (√n cells)
    // takes over before 10⁸ where the exact form pays rep² cosines.
    def r15Probes = {
      e1.count(); eN.count()
      val s1 = e1.where(col("vec_id") % 2 === 0)
      val t1 = e1.where(col("vec_id") % 2 === 1)
      val sN = eN.where(col("vec_id") % 2 === 0)
      val tN = eN.where(col("vec_id") % 2 === 1)
      val pN = ext.Tuning.suggestIvf(tN.count())
      Seq(
        time("bitext_exact_1x") { ext.Similarity.bitextMine(s1, t1).count() },
        time(s"bitext_exact_${rep}x") { ext.Similarity.bitextMine(sN, tN).count() },
        time("bitext_ivf_1x") { ext.Similarity.bitextMineIvf(s1, t1).count() },
        time(s"bitext_ivf_${rep}x") {
          ext.Similarity.bitextMineIvf(sN, tN,
            nCells = pN.nCells, nProbe = pN.nProbe).count()
        })
    }
    // r16: growth exponents of the r15 NATIVE machinery in its hot
    // aggregations (VERDICT r15 item 6) — `NativeTopK` (ann_topk: corpus
    // grows REP×, query set fixed → work and wall time ~linear),
    // `CoocStructs` (item_cooc: baskets/pairs grow ~REP×), and the bm25
    // serving path (`TermCounts` + NativeTopK, fixed query set). Exponent
    // = log(tN/t1)/log(rep), expected ~1.0 (sub-linear readings mean the
    // 1× time is job-floor-bound, not compute-bound).
    def r16Probes = {
      e1.count(); eN.count(); d1.count(); dN.count()
      val queries1 = e1.where(col("vec_id") < 10)
      // BOTH keys shift per replica (the default-set construction): shared
      // items across replicas would multiply every pair's count REP×,
      // pushing sub-threshold pairs over min-support and exploding the
      // OUTPUT super-linearly — a measurement artifact, not operator growth
      val li1 = SparkEntry.table(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i")).cache()
      val liN = li1.crossJoin(broadcast(reps))
        .select((col("b") + col("r") * 100000000L).as("b"),
          (col("i") + col("r") * 10000000L).as("i")).cache()
      li1.count(); liN.count()
      // warm-up pass: first-call codegen/JIT otherwise lands entirely on
      // the 1× cell and fakes a sub-linear exponent
      ext.Similarity.annTopK(e1, queries1).count()
      force(ext.Assoc.itemCooc(li1, col("b"), col("i")))
      force(ext.Retrieval.bm25(d1, ext.Retrieval.GateQueries))
      Seq(
        time("ann_topk_1x") { ext.Similarity.annTopK(e1, queries1).count() },
        time(s"ann_topk_${rep}x") { ext.Similarity.annTopK(eN, queries1).count() },
        time("item_cooc_1x") { force(ext.Assoc.itemCooc(li1, col("b"), col("i"))) },
        time(s"item_cooc_${rep}x") { force(ext.Assoc.itemCooc(liN, col("b"), col("i"))) },
        time("bm25_topk_1x") { force(ext.Retrieval.bm25(d1, ext.Retrieval.GateQueries)) },
        time(s"bm25_topk_${rep}x") { force(ext.Retrieval.bm25(dN, ext.Retrieval.GateQueries)) })
    }
    def r14bProbes = {
      // growth exponents of the round-14 native-expression operators: all
      // are per-document byte scans feeding bounded aggregations, so wall
      // time must grow ~linearly in rows (docsN keeps near-dup structure
      // linear; bm25 holds the query set FIXED as a real serving workload
      // does)
      d1.count(); dN.count()
      Seq(
        time("winnow_pairs_1x") { ext.Dedup.winnowPairs(d1).count() },
        time(s"winnow_pairs_${rep}x") { ext.Dedup.winnowPairs(dN).count() },
        time("glove_cooc_1x") { force(ext.TextAnalysis.cooccurrence(d1)) },
        time(s"glove_cooc_${rep}x") { force(ext.TextAnalysis.cooccurrence(dN)) },
        time("sem_boundaries_1x") { force(ext.TextAnalysis.semanticBoundaries(d1)) },
        time(s"sem_boundaries_${rep}x") { force(ext.TextAnalysis.semanticBoundaries(dN)) },
        time("bm25_1x") { force(ext.Retrieval.bm25(d1, ext.Retrieval.GateQueries)) },
        time(s"bm25_${rep}x") { force(ext.Retrieval.bm25(dN, ext.Retrieval.GateQueries)) })
    }
    val results = if (r16Only) r16Probes
    else if (r15Only) r15Probes
    else if (r14bOnly) r14bProbes
    else if (r14Only) r14Probes
    else if (r13Only) r13Probes
    else if (r12Only) r12Probes
    else if (r9Only) r9Probes else if (r9bOnly) r9bProbes
    else if (r9cOnly) r9cProbes else if (r9dOnly) r9dProbes
    else if (r10Only) r10Probes
    else if (r11Only) r11Probes
    else if (r11bOnly) r11bProbes
    else if (r11cOnly) r11cProbes
    else if (r10bOnly) r10bProbes
    else if (r9gOnly) r9gProbes
    else if (r9fOnly) r9fProbes
    else if (r9eOnly) r9eProbes else Seq(
      time(s"jaccard_1x") { ext.Dedup.jaccardPairs(d1).count() },
      time(s"jaccard_${rep}x") { ext.Dedup.jaccardPairs(dN).count() },
      // degenerate-corpus stress pair: exact PPJoin vs banded MinHash on
      // the collapsed-shingle-space corpus, 1-replica splice as the
      // like-for-like baseline (see docsSkew comment)
      time(s"jaccard_skew_1x") { ext.Dedup.jaccardPairs(dSkew1).count() },
      time(s"jaccard_skew_${rep}x") { ext.Dedup.jaccardPairs(dSkew).count() },
      time(s"minhash_skew_1x") { ext.Dedup.minhashLsh(dSkew1).count() },
      time(s"minhash_skew_${rep}x") { ext.Dedup.minhashLsh(dSkew).count() },
      time(s"minhash_1x") { ext.Dedup.minhashLsh(d1).count() },
      time(s"minhash_${rep}x") { ext.Dedup.minhashLsh(dN).count() },
      time(s"ann_ivf_1x") {
        ext.Similarity.annIvf(e1, queries1, nCells = cells1, centroids = Some(cent1)).count()
      },
      time(s"ann_ivf_${rep}x") {
        ext.Similarity.annIvf(eN, queriesN, nCells = cellsN, centroids = Some(centN)).count()
      },
      time(s"ann_lsh_1x") { ext.Similarity.annLsh(e1, queries1).count() },
      time(s"ann_lsh_${rep}x") {
        ext.Similarity.annLsh(eN, queriesN, bits = bitsN).count()
      },
      // hygiene: repetition is narrow per-document math (must be exactly
      // linear); contamination holds the benchmark side FIXED (the eval
      // suite doesn't grow with the corpus) and replicates the probe side
      time(s"repetition_1x") { force(ext.Hygiene.repetitionStats(d1)) },
      time(s"repetition_${rep}x") { force(ext.Hygiene.repetitionStats(dN)) },
      // benchmark = the r=0 slice (drawn from the corpus so hits are real,
      // and FIXED as the corpus grows — the real decontamination shape)
      time(s"contamination_1x") {
        val bench = dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 === 0)
        ext.Hygiene.contamination(
          dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 =!= 0),
          bench, k = 4).count()
      },
      time(s"contamination_${rep}x") {
        val bench = dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 === 0)
        ext.Hygiene.contamination(dN.where(col("doc_id") % 50 =!= 0),
          bench, k = 4).count()
      },
      // the FLAGSHIP composition: full 7-stage curation (fused gates →
      // decontamination → pair graph + CC → mix → pack) with the benchmark
      // side FIXED (r=0 slice) as the corpus grows — the growth exponent of
      // everything above composed, including the materialized stage
      // boundary and the iterative clustering
      time(s"curate_full_1x") {
        val bench = dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 === 0)
        ext.Curation.curateFull(
          dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 =!= 0),
          bench).count()
      },
      time(s"curate_full_${rep}x") {
        val bench = dN.where(col("doc_id") < 1000000L && col("doc_id") % 50 === 0)
        ext.Curation.curateFull(dN.where(col("doc_id") % 50 =!= 0), bench).count()
      }) ++ r9Probes ++ r9bProbes ++ r9cProbes ++ r9dProbes

    val pairs = results.grouped(2).map { case Seq((l1, s1, _), (_, sN, _)) =>
      val op = l1.stripSuffix("_1x")
      f""""$op":{"sec_1x":$s1%.2f,"sec_${rep}x":$sN%.2f,"ratio":${sN / s1}%.2f}"""
    }
    // scalastyle:off println
    println(s"""{"metric":"scale_probe","rep":$rep,${pairs.mkString(",")}}""")
    // scalastyle:on println
    spark.stop()
  }
}
