package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probes: replicate an sf0.1 input N× (with key offsets so
  * cardinalities scale too) and time an operator — the "would this plan
  * survive 100×?" check. Wall-clock should grow ~linearly (shuffle-bound
  * ops) — superlinear growth means a plan that dies at 100 TB.
  *
  * Usage: runMain graft.ScaleProbe [probe ...]   (default: all)
  */
object ScaleProbe {
  private val sf = "/root/testdata/sf0.1"

  private def replicate(df: DataFrame, copies: Int, keyCols: Map[String, Long]): DataFrame = {
    val withRep = df.withColumn("__rep",
      explode(sequence(lit(0), lit(copies - 1))))
    keyCols.foldLeft(withRep) { case (d, (c, stride)) =>
      d.withColumn(c, col(c) + col("__rep").cast("long") * stride)
    }.drop("__rep")
  }

  private def time[T](body: => T): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")
    val wanted: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet.contains

    def probe(name: String, copies: Seq[Int])(run: Int => Long): Unit =
      if (wanted(name)) copies.foreach { c =>
        // min of 2: the first run absorbs codegen/JIT warm-up
        val dt = math.min(time(run(c)), time(run(c)))
        println(f"PROBE $name%-22s x$c%-3d ${dt}%7.2f s")
      }

    val events = engine.Tables.events(spark, sf).cache()
    events.count()
    val docs = engine.Tables.documents(spark, sf).cache()
    docs.count()
    val li = engine.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_shipdate", "l_quantity").cache()
    li.count()
    val ord = engine.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate", "o_orderpriority").cache()
    ord.count()

    probe("events_funnel", Seq(1, 20)) { c =>
      val ev = replicate(events, c, Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.funnel(ev, Seq("view", "click", "purchase")).count()
    }

    probe("range_join_week", Seq(1, 20)) { c =>
      // points scale ×c; intervals scale ×c on a disjoint key range but
      // the SAME date axis, so per-bin density (the join's real load)
      // scales ×c on both sides
      val points = replicate(li, c, Map("l_orderkey" -> 100000000L))
      val ivs = replicate(ord, c, Map("o_orderkey" -> 100000000L))
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_until"))
      operators.RangeJoin.pointInIntervalTs(
          points.select(col("l_shipdate"), col("l_quantity")), col("l_shipdate"),
          ivs, col("o_orderdate"), col("o_until"), 7 * 86400L)
        .groupBy(col("o_orderkey")).count().count()
    }

    probe("range_join_pts_only", Seq(1, 20)) { c =>
      // the common shape: the fact side grows, the interval set is fixed
      val points = replicate(li, c, Map("l_orderkey" -> 100000000L))
      val ivs = ord
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_until"))
      operators.RangeJoin.pointInIntervalTs(
          points.select(col("l_shipdate"), col("l_quantity")), col("l_shipdate"),
          ivs, col("o_orderdate"), col("o_until"), 7 * 86400L)
        .groupBy(col("o_orderkey")).count().count()
    }

    probe("join_skew_salted", Seq(1, 20)) { c =>
      // replicate WITHOUT touching `source`: the 20 hot keys stay 20 hot
      // keys, each ×c heavier — the actual skew stress
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val dim = d.groupBy(col("source")).agg(avg(col("n_chars")).as("src_avg"))
      operators.Joins.saltedJoin(d, dim, "source", col("doc_id"), 8)
        .filter(col("n_chars") > col("src_avg"))
        .groupBy(col("source")).agg(count(lit(1))).count()
    }

    probe("sample_weighted", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      pipeline.Pipeline.weightedSample(
        d, col("doc_id"), col("n_chars").cast("double"), 100).count()
    }

    probe("events_cumulative", Seq(1, 20)) { c =>
      val ev = replicate(events, c, Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.cumulativeValue(ev).count()
    }

    probe("dedup_incremental", Seq(1, 20)) { c =>
      // the delta stays FIXED while the corpus scales x c — the shape
      // that matters: cost must track the delta + one corpus banding
      // map, not the corpus squared
      val delta = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      val corpus = replicate(docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
        c, Map("doc_id" -> 10000000L))
      dedup.Dedup.minhashLshAgainst(delta, corpus, 3, 64, 32, 0.5).count()
    }

    probe("corpus_mix", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      pipeline.Pipeline.corpusMix(d, col("doc_id"), col("source"),
        col("n_toks"), Map("src0" -> 800000L, "src1" -> 600000L,
          "src2" -> 2000000000L)).count()
    }

    // storable-sketch rollup: bounded O(cap)/O(2^p) state per group, so
    // cost must track the token scan, never the vocabulary or history
    probe("sketch_heavy_rollup", Seq(1, 20)) { c =>
      import graft.functions.MgSketch
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val toks = d.select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val perSrc = toks.groupBy(col("source"))
        .agg(MgSketch.mg_build(col("tok"), 200).as("sk"),
          count(lit(1)).as("n"))
      val merged = perSrc.agg(MgSketch.mg_merge(col("sk"), 200).as("sk"),
        sum(col("n")).as("n"))
      val cands = merged.select(
          explode(MgSketch.mg_entries(col("sk"))).as("e"))
        .select(col("e.key").as("tok"))
      toks.join(broadcast(cands), Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")).count()
    }

    probe("sketch_distinct_rollup", Seq(1, 20)) { c =>
      import graft.functions.HllSketch
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      d.groupBy(col("source"))
        .agg(HllSketch.hll_build(col("text")).as("sk"))
        .agg(HllSketch.hll_merge(col("sk")).as("sk"))
        .select(HllSketch.hll_estimate(col("sk"))).count()
    }

    // narrow per-row codec work (encode + entropy-decode per payload):
    // must scale linearly — there is no shuffle to misbehave
    probe("multimodal_codec", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      multimodal.Multimodal.extractCodecFeatures(
        multimodal.Multimodal.syntheticCodecMedia(d)).toDF().count()
    }

    probe("multimodal_video", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      multimodal.Multimodal.decodeVideoMeta(
        multimodal.Multimodal.syntheticVideo(d)).toDF().count()
    }

    probe("ann_pq_topk", Seq(1, 20)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 10000000L))
      ann.Similarity.pqTopK(e, Seq(0L, 1L, 2L, 3L, 4L), 10).count()
    }

    // per-replica token salting: every token carries its replica id, so
    // replicas are NOT near-dups of each other — duplicate-structure
    // density stays constant while the corpus scales ×c (the input-bound
    // probe; unsalted replication would instead measure the ×c² pair
    // blow-up of making every doc a 20-way duplicate)
    def saltedDocs(c: Int): DataFrame = {
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val rep = (col("doc_id") / lit(10000000L)).cast("long")
      d.withColumn("text",
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_"), rep)), " "))
    }

    // salted tokens scale the vocabulary ×c past k=1024, so this probes
    // the SAMPLED regime: sketch build is one token scan + bounded
    // per-source state; the pairwise algebra stays #sources² kilobyte
    // blobs regardless of corpus size
    probe("sketch_theta_algebra", Seq(1, 20)) { c =>
      import graft.functions.ThetaSketch
      val toks = saltedDocs(c).select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val perSrc = toks.groupBy(col("source"))
        .agg(ThetaSketch.theta_build(col("tok")).as("sk"))
      val a = perSrc.select(col("source").as("sa"), col("sk").as("ka"))
      val b = perSrc.select(col("source").as("sb"), col("sk").as("kb"))
      a.crossJoin(broadcast(b)).filter(col("sa") < col("sb"))
        .select(ThetaSketch.theta_intersect(col("ka"), col("kb")).as("i"))
        .agg(sum(col("i"))).count()
    }

    // CC rounds are O(component diameter); salted replication scales the
    // COUNT of near-dup components, not their size, so round count must
    // stay flat and wall-clock ~linear in the pair-mining volume
    probe("dedup_clusters", Seq(1, 20)) { c =>
      dedup.Dedup.connectedComponents(
        dedup.Dedup.minhashLshPairs(saltedDocs(c), 3, 64, 32, 0.5)).count()
    }

    probe("remove_dup_spans", Seq(1, 20)) { c =>
      // COLLECT the aggregate row — a .count() on a global agg lets the
      // optimizer prune the sums (Aggregate [count(1)] over an empty
      // Project), skipping the row-local cut this probe exists to time
      text.TextAnalysis.removeDupSpans(saltedDocs(c), 5)
        .agg(sum(length(col("clean_text"))), sum(col("n_kept")))
        .collect()(0).getLong(1)
    }

    probe("dedup_edit_distance", Seq(1, 20)) { c =>
      dedup.Dedup.editDistancePairs(saltedDocs(c), 5, 64).count()
    }

    // narrow hash pass + banded self-join: candidates ∝ true near-dups
    // (salted replicas hash differently, so the pair volume is linear)
    probe("image_hash_neardup", Seq(1, 20)) { c =>
      val hs = multimodal.Multimodal.imageHashes(
        multimodal.Multimodal.syntheticCodecMedia(saltedDocs(c))).toDF()
      multimodal.Multimodal.imageNearDupPairs(hs).count()
    }

    // decode + frame fold is row-local; the signature join sees one
    // row per doc — wall-clock must track the decode volume linearly
    probe("audio_fingerprint_dedup", Seq(1, 20)) { c =>
      multimodal.Multimodal.audioDedupPairs(
        multimodal.Multimodal.audioFingerprint(
          multimodal.Multimodal.syntheticUlawAudio(saltedDocs(c)))
          .toDF()).count()
    }

    // one count-by-source pass + broadcast rate filter: no corpus
    // shuffle at any scale
    probe("temperature_mix", Seq(1, 20)) { c =>
      pipeline.Pipeline.temperatureMix(
        replicate(docs, c, Map("doc_id" -> 10000000L)),
        col("doc_id"), col("source")).count()
    }

    // token df counts + per-doc re-agg: two shuffles, both ∝ corpus
    // one codegen trie walk per row, no shuffle at all (narrow select):
    // must scale linearly with corpus bytes
    probe("text_tokens_bpe", Seq(1, 20)) { c =>
      val r = text.TextAnalysis.bpeTokenStats(saltedDocs(c))
        .agg(sum(col("n_tokens_bpe"))).head()
      if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue
    }

    // one automaton pass per doc, tiny (≤ lexicon-sized) agg after:
    // must scale linearly with corpus bytes, like any narrow scan
    probe("text_blocklist", Seq(1, 20)) { c =>
      val lex = Seq("join", "merge", "slow", "low", "scan", "can",
        "order", "data", "slow join", "qqq")
      text.TextAnalysis.blocklistTermStats(
          replicate(docs, c, Map("doc_id" -> 10000000L)), lex)
        .agg(sum(col("n_occurrences"))).head().getLong(0)
    }

    // the m-INDEPENDENCE claim itself: fixed corpus, lexicon grown
    // ×120 (17 → ~2k terms, CSR automaton) — per-byte cost is O(1) in
    // m, so wall-clock should stay ≈flat while a contains()-chain
    // formulation would grow ×120
    probe("text_blocklist_lexicon", Seq(1, 120)) { c =>
      val words = Seq("join", "hash", "row", "batch", "scan", "customer",
        "column", "filter", "small", "merge", "slow", "order", "vector",
        "line", "table", "data", "agg", "value", "key", "stream",
        "window", "spark", "part", "group", "big", "sort", "query",
        "fast", "the", "a")
      val base = Seq("slow join", "merge scan", "qqq")
      // pairs alone give only 30·29 = 870 terms — short of the ×120
      // target (2037), which would silently truncate the claim to ×51;
      // two suffixed batches ("end"/"run" are not in the word list, so
      // all 2610 generated phrases are distinct) cover the full scale
      val lex =
        if (c == 1) base ++ words.take(14)
        else {
          val combos = for (suf <- Seq("", " end", " run");
            a <- words; b <- words; if a != b) yield s"$a $b$suf"
          base ++ combos.take(17 * c - 3)
        }
      require(lex.size == 17 * c, s"lexicon probe size ${lex.size} != ${17 * c}")
      text.TextAnalysis.blocklistTermStats(docs, lex.distinct)
        .agg(sum(col("n_occurrences"))).head().getLong(0)
    }

    // bigram-LM surprisal: UNSALTED replication (replicas share the
    // vocabulary — the realistic regime: corpus grows, model doesn't).
    // Training agg input, scoring join input, and per-doc re-agg all
    // scale ×c; the checkpointed model stays vocab-sized constant
    probe("text_lm_surprisal", Seq(1, 20)) { c =>
      text.TextAnalysis.bigramSurprisal(
          replicate(docs, c, Map("doc_id" -> 10000000L)))
        .agg(sum(col("surprisal_sum"))).head().getLong(0)
    }

    // DSIR: same shape as the surprisal probe (train agg + broadcast
    // model scoring join, both ∝ corpus; model constant)
    probe("text_dsir_weight", Seq(1, 20)) { c =>
      text.TextAnalysis.dsirWeights(
          replicate(docs, c, Map("doc_id" -> 10000000L)),
          col("lang") === "en")
        .agg(sum(col("dsir_weight"))).head().getLong(0)
    }

    // CCNet buckets: the reason this exists — thresholds by COUNTING
    // on the bounded 1e-4 grid, so the cumulative window's input does
    // NOT grow with the corpus; only the score/stamp stages scale ×c
    probe("text_ccnet_buckets", Seq(1, 20)) { c =>
      text.TextAnalysis.ccnetBuckets(
          replicate(docs, c, Map("doc_id" -> 10000000L)))
        .groupBy(col("bucket")).agg(count(lit(1))).count()
    }

    // winnowing: SALTED replication (unsalted copies would share every
    // fingerprint cross-replica and the pair join would go quadratic in
    // c by construction, like the embedding probes); kernel pass +
    // banded-style fp join must scale ~linearly
    probe("text_winnow_pairs", Seq(1, 20)) { c =>
      text.TextAnalysis.winnowPairs(saltedDocs(c)).count()
    }

    // span-level dedup: SALTED replication (cross-replica grams never
    // collide, so the duplicated-structure density stays constant); one
    // codegen gram walk + one keyed dup agg + one semi-join + one
    // per-doc collect — all ∝ corpus, must scale ~linearly
    probe("text_dup_spans", Seq(1, 20)) { c =>
      text.TextAnalysis.dupSpans(saltedDocs(c), 5)
        .agg(sum(col("n_span_tokens"))).head().getLong(0)
    }

    // domain scoring: the centroid is ONE broadcast row (trained by a
    // global per-dimension agg ∝ corpus); scoring is a narrow dot
    // product per row — both stages scan-bound, zero data shuffle in
    // the serve half, must scale ~linearly
    probe("embedding_domain_score", Seq(1, 20)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 10000000L))
      ann.Similarity.domainScore(e, 0).agg(sum(col("dot_q"))).head().getLong(0)
    }

    // pairwise source similarity: UNSALTED replication keeps #sources
    // fixed, so the OUTPUT is #sources²/2 CONSTANT while the TF-model
    // training agg scales ×c — the probe prints the output count to
    // show it (the all-pairs half lives at model, not corpus, scale)
    probe("source_similarity", Seq(1, 20)) { c =>
      val r = text.TextAnalysis.sourceSimilarity(
        replicate(docs, c, Map("doc_id" -> 10000000L)))
      val n = r.count()
      println(s"       source_similarity x$c output pairs: $n (constant)")
      n
    }

    // BM25: two corpus-∝ shuffles (df + per-doc score agg) and a
    // BOUNDED top-k take — no full sort; must scale ~linearly
    probe("bm25_topk", Seq(1, 20)) { c =>
      text.TextAnalysis.bm25TopK(
        replicate(docs, c, Map("doc_id" -> 10000000L)),
        Seq("spark", "join", "merge", "slow"), 20).count()
    }

    // packing dashboard: the packing prefix-sum scales ∝ corpus per
    // source; the efficiency agg collapses to #sources rows — linear
    probe("pack_efficiency", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val packed = pipeline.Pipeline.packSequences(
        d.select(col("doc_id"), col("source"),
          text.TextAnalysis.bpeTokenCount(col("text")).as("n_tokens")),
        col("source"), col("doc_id"), col("n_tokens"), 2048L)
      packed.groupBy(col("source"), col("bin"))
        .agg(sum(col("n_tokens")).as("fill"))
        .groupBy(col("source")).agg(count(lit(1)), sum(col("fill"))).count()
    }

    // line dedup: SALTED replication (cross-replica lines never match,
    // so boilerplate density stays constant instead of every line going
    // ×c-duplicated); one explode → hash agg → join-back → per-doc
    // collect, all ∝ corpus lines — must scale ~linearly. Driver docs
    // are single-line, which probes the degenerate worst case: every
    // "line" is a whole document (maximum hash-input bytes per line)
    probe("text_remove_dup_lines", Seq(1, 20)) { c =>
      text.TextAnalysis.removeDupLines(saltedDocs(c))
        .agg(sum(col("n_kept"))).head().getLong(0)
    }

    // gopher gate / html extraction / url filter: pure narrow maps
    // (row-local arrays + regex), zero shuffle — must be scan-bound
    probe("text_gopher_rules", Seq(1, 20)) { c =>
      text.TextAnalysis.gopherRules(
        replicate(docs, c, Map("doc_id" -> 10000000L)))
        .filter(col("pass")).count()
    }
    probe("text_html_extract", Seq(1, 20)) { c =>
      text.TextAnalysis.htmlTextStats(
        replicate(docs, c, Map("doc_id" -> 10000000L)))
        .agg(sum(col("n_chars"))).head().getLong(0)
    }
    probe("text_url_filter", Seq(1, 20)) { c =>
      text.TextAnalysis.urlFilter(
        replicate(docs, c, Map("doc_id" -> 10000000L)), Seq("x.example.com"))
        .filter(col("flagged")).count()
    }

    // unigram viterbi: DP per DISTINCT word (vocab-sized frame,
    // broadcast back) — corpus ×20 with unchanged vocabulary must be
    // scan/agg-bound, never DP-bound
    probe("text_tokens_unigram", Seq(1, 20)) { c =>
      text.TextAnalysis.unigramStats(
        replicate(docs, c, Map("doc_id" -> 10000000L)),
        SparkEntry.unigramVocab)
        .agg(sum(col("cost_sum"))).head().getLong(0)
    }

    // wordpiece greedy: same distinct-word split as unigram — the
    // per-word loop runs on a vocab-sized frame, so corpus ×20 with an
    // unchanged vocabulary must be scan/agg-bound
    probe("text_tokens_wordpiece", Seq(1, 20)) { c =>
      text.TextAnalysis.wordpieceStats(
        replicate(docs, c, Map("doc_id" -> 10000000L)),
        SparkEntry.wordpieceVocab)
        .agg(sum(col("n_pieces"))).head().getLong(0)
    }

    // stupid-backoff LM: model frames are vocab-sized (train side
    // counts via three explode→agg passes, serve side pays three
    // broadcast joins) — train+serve on a ×20 corpus must track the
    // corpus scans ~linearly, never the join side
    probe("text_lm_backoff", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.trigramBackoff(d, d)
        .agg(sum(col("surprisal_sum"))).head().getLong(0)
    }

    // ROUNDS-DEPTH probe (fixed corpus, 2 → 8 EM rounds): each round
    // is one vocab-sized segment+recount pass over the checkpointed
    // word-frequency table (the corpus is scanned ONCE up front), so
    // wall-time must grow ~linearly in rounds with a flat per-round
    // cost — the EM analog of bpe_train_depth
    probe("unigram_train_depth", Seq(2, 8)) { c =>
      text.TextAnalysis.unigramTrainCosts(docs, SparkEntry.unigramVocab, c)
        .agg(sum(col("cost"))).head().getLong(0)
    }

    // prune = EM rounds + a driver-side filter + one more round; the
    // ×20 corpus changes only the shared word-frequency scan
    probe("unigram_train_pruned", Seq(1, 20)) { c =>
      text.TextAnalysis.unigramTrainPruned(
        replicate(docs, c, Map("doc_id" -> 10000000L)),
        SparkEntry.unigramVocab, 2, 1500L)
        .agg(sum(col("cost"))).head().getLong(0)
    }

    // filter funnel: one flag-computing scan + the dedup window (the
    // only data-sized exchange) + a 1-row agg — must scale ~linearly
    probe("corpus_filter_funnel", Seq(1, 20)) { c =>
      text.TextAnalysis.filterFunnel(
        replicate(docs, c, Map("doc_id" -> 10000000L)), "en",
        Seq("the", "a", "of", "and"), Seq("slow join", "qqq"))
        .agg(sum(col("n_docs"))).head().getLong(0)
    }

    // domain rank: corpus ×20 with UNCHANGED sources — the edge set
    // (distinct site→domain) and the per-iteration shuffles stay
    // graph-sized, so growth must track the one extraction scan only
    probe("link_domain_rank", Seq(1, 20)) { c =>
      graph.LinkGraph.domainRank(
        replicate(docs, c, Map("doc_id" -> 10000000L)), 4)
        .agg(sum(col("rank_micro"))).head().getLong(0)
    }

    // semantic decontamination: the EVAL side is fixed (benchmark-sized
    // broadcast); only the train scan scales ×c — per-row cost ∝ |eval|
    // is constant, so wall-clock must grow ~linearly with the corpus
    probe("decontam_embedding", Seq(1, 20)) { c =>
      val e = engine.Tables.embeddings(spark, sf)
      val train = replicate(e.filter(col("label") =!= 9), c,
        Map("vec_id" -> 10000000L))
      ann.Similarity.semanticContamination(
        train, e.filter(col("label") === 9), 0.4).count()
    }

    // MERGE-DEPTH probe (fixed corpus, steps 8 → 64): per-step input is
    // ∝ touched words and plan depth is pinned at one merge-apply by the
    // lazy per-step checkpoint, so total wall-time must grow ~linearly
    // in the step count (per-step ≈ flat) and the driver pair-map peak
    // must stay vocabulary-bounded — the instrumented evidence behind
    // the 30k-merge claim (x8 = 8 merges, x64 = 64 merges; same docs)
    probe("bpe_train_depth", Seq(8, 64)) { c =>
      val n = text.BpeTrainer.trainMerges(docs, c).size.toLong
      println(s"       bpe_train_depth steps=$c pair-map peak: " +
        s"${text.BpeTrainer.lastPairMapPeak} entries")
      n
    }

    // full-program JS gesture (tier-2 per-row interpreter): a for loop
    // over every character — pure narrow map, no shuffle; must scale
    // linearly in rows like any scan-bound expression
    probe("js_program_loop", Seq(1, 20)) { c =>
      val js = """function map(row) {
        var t = row.text;
        var acc = 0;
        for (var i = 0; i < t.length; i++) {
          acc = (acc + (i + 1) * t.charCodeAt(i)) % 1000003;
        }
        return acc;
      }"""
      val r = functions.JsGesture.withJsColumnTyped(saltedDocs(c), "acc", js,
          org.apache.spark.sql.types.DoubleType)
        .agg(sum(col("acc"))).head()
      if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue
    }

    // encode + two-level prefix-sum packing + per-bin assembly (bins
    // hold ~budget tokens regardless of corpus size, so the collect
    // per group stays bounded): ~linear
    probe("pack_sequences_ids", Seq(1, 20)) { c =>
      // fingerprint the assembled ids, don't count(): pruning would
      // drop the per-bin collect/flatten/encode this probe measures
      // (the text_rarity lesson)
      val r = text.TextAnalysis.packedSequenceIds(saltedDocs(c), 2048L)
        .agg(sum(text.TextAnalysis.idsFingerprint(col("input_ids")))).head()
      if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue
    }

    // training pair-counts the word-frequency table ONCE into the
    // driver map, then each merge's distributed input is only the
    // TOUCHED words (delta pair counts) — per-step work ∝ words
    // containing the merged pair, not ∝ vocabulary (salting multiplies
    // the vocabulary ×c — the worst case for both terms)
    probe("bpe_train_merges", Seq(1, 20)) { c =>
      text.BpeTrainer.trainMerges(saltedDocs(c), 4).size.toLong
    }

    // quantitative decontamination: the eval side is fixed; the train
    // shingle explode and the per-doc fold scale ×c — join input is
    // eval-sized on one side at any corpus scale
    probe("decontam_overlap", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.contaminationOverlap(
        d.filter(pmod(col("doc_id"), lit(50L)) =!= 7L),
        docs.filter(pmod(col("doc_id"), lit(50L)) === 7L), 3, 2000L).count()
    }

    // word-boundary blocklist: tokenize scan + broadcast lexicon
    // semi-join + model-sized count shuffle — scan-bound
    probe("text_blocklist_words", Seq(1, 20)) { c =>
      text.TextAnalysis.blocklistWordStats(
        replicate(docs, c, Map("doc_id" -> 10000000L)),
        Seq("join", "slow", "scan", "qqq")).count()
    }

    // line rules: pure row-local array ops, zero shuffle
    probe("text_gopher_lines", Seq(1, 20)) { c =>
      text.TextAnalysis.gopherLineRules(
        replicate(docs, c, Map("doc_id" -> 10000000L)))
        .agg(sum(when(col("pass"), 1L).otherwise(0L))).head().getLong(0)
    }

    // incremental LM fold: shard states are model-sized; ×c corpus
    // changes only the per-shard counting scans
    probe("lm_model_incremental", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val shards = (0 to 2).map(i => text.TextAnalysis
        .bigramCountState(d.filter(pmod(col("doc_id"), lit(3)) === i)))
      text.TextAnalysis.bigramModelFromStates(
        Seq(shards(2), shards(0), shards(1))).count()
    }

    // url canonicalization: a narrow regex/array chain per extracted
    // URL + one URL-table-sized hash agg — synthesized messy URLs scale
    // ×c with the corpus, so growth must track the extraction scan
    probe("url_canonicalize", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("text", concat(col("text"),
          lit(" HTTP://Site"), pmod(col("doc_id"), lit(1000)),
          lit(".Example.COM:80/p/"), col("doc_id"),
          lit("/?utm_source=probe&id="), col("doc_id")))
      text.TextAnalysis.urlDedup(d).count()
    }

    // source cap: the bounded-heap aggregator ships ≤ keys×K rows to
    // the shuffle regardless of corpus size — ×20 rows, same tiny
    // shuffle, so growth must track the quality scan
    probe("source_cap", Seq(1, 20)) { c =>
      text.TextAnalysis.sourceCap(
        replicate(docs, c, Map("doc_id" -> 10000000L)), 5).count()
    }

    // wordpiece trainer: the bpe_train_merges delta posture plus
    // symbol-count deltas riding the SAME signed job — salting
    // multiplies the vocabulary ×c, the worst case for both driver maps
    probe("wordpiece_train_merges", Seq(1, 20)) { c =>
      text.BpeTrainer.trainWordpieceMerges(saltedDocs(c), 4).size.toLong
    }

    // MERGE-DEPTH twin of bpe_train_depth for the likelihood-scored
    // trainer: fixed corpus, 8 → 64 merges — per-step input stays ∝
    // touched words and plan depth stays one merge-apply, so total
    // wall-time must grow ~linearly in steps
    probe("wordpiece_train_depth", Seq(8, 64)) { c =>
      text.BpeTrainer.trainWordpieceMerges(docs, c).size.toLong
    }

    probe("text_rarity", Seq(1, 20)) { c =>
      // head(), not count(): count() on a global agg lets column
      // pruning drop the magnitude arithmetic being measured
      val r = text.TextAnalysis.unigramRarity(saltedDocs(c))
        .agg(sum(col("magnitude_sum"))).head()
      if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue
    }

    // candidates × fixed pool: per-pair O(n·m) LCS kernel in a narrow
    // map over one scan — growth must track the scan, pool is constant
    probe("text_rouge_dedup", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.rougeDedup(d, SparkEntry.instPool, 24).count()
    }

    // gram explode ×c; the model stays vocab-sized (fixed corpus vocab)
    // and broadcasts, so serve growth must track the gram scan
    probe("text_langid_nb", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.langidNb(d, col("lang") === "en").count()
    }

    // corpus ×c against a FIXED anchor set: scoring is a narrow map
    // over the broadcast anchors; heap partials keep the shuffle ≤ k
    probe("ann_hard_negatives", Seq(1, 20)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 10000000L))
      ann.Similarity.hardNegatives(e, Seq(0L, 1L, 2L, 3L, 4L), 10).count()
    }

    probe("ann_triplets", Seq(1, 20)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 10000000L))
      ann.Similarity.triplets(e, Seq(0L, 1L, 2L, 3L, 4L)).count()
    }

    // explode + two per-doc windows + ordered re-collect: the one
    // doc-sized exchange every two-pass text family pays
    probe("span_corruption", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.spanCorruption(d).count()
    }

    // row-local: zero exchanges — growth is the scan alone
    probe("fim_transform", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.fimTransform(d).count()
    }

    probe("chunk_sliding", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.chunkTokens(d, 32, 16).count()
    }

    // (source, bigram) partial agg: model-sized after map-side combine
    // (vocab fixed), so the count shuffle stays flat while the scan ×c
    probe("source_diversity", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.sourceDiversity(d).count()
    }

    probe("code_quality_rules", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.codeQualityRules(d).count()
    }

    // weights scan ×c, selection a bounded TakeOrdered heap (k fixed)
    probe("dsir_select", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.dsirSelect(d, col("lang") === "en", 32).count()
    }

    // k−1 rounds × (one narrow scan + TakeOrdered(1)): growth must
    // track the scan; driver state stays k vectors
    probe("kcenter_coreset", Seq(1, 20)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 10000000L))
      ann.Similarity.kcenterCoreset(e, 6).count()
    }

    // 3 shard scans + one model-sized fold: scan-bound
    probe("langid_model_incremental", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val shards = (0 to 2).map(i => text.TextAnalysis
        .langidCountState(d.filter(pmod(col("doc_id"), lit(3)) === i),
          col("lang") === "en"))
      text.TextAnalysis.langidModelFromStates(
        Seq(shards(2), shards(0), shards(1))).count()
    }

    probe("seq_len_histogram", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.seqLenHistogram(d).count()
    }

    probe("sft_loss_mask", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.sftLossMask(d).count()
    }

    // eval side fixed (benchmark-sized), train grams ×c: scan-bound
    probe("decontam_cut", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.decontamCut(
        d.filter(pmod(col("doc_id"), lit(50L)) =!= 7L),
        d.filter(pmod(col("doc_id"), lit(50L)) === 7L), 3, 2).count()
    }

    probe("vocab_growth", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.vocabGrowth(d).count()
    }

    // grid counts bounded by grid × sources; stamp join broadcast
    probe("quality_percentile", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.qualityPercentile(d).count()
    }

    probe("corpus_diff", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      pipeline.Pipeline.corpusDiff(d,
        d.filter(pmod(col("doc_id"), lit(37L)) =!= 11L)).count()
    }

    probe("shard_balance", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      pipeline.Pipeline.shardBalance(d, 16).count()
    }

    probe("text_scripts", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.scriptMix(d).count()
    }

    probe("text_ttr", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.typeTokenRatio(d).count()
    }

    probe("token_zipf", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.tokenZipf(d).count()
    }

    // users ×c (stride on user_id): cohort grid stays O(weeks²)
    probe("events_retention", Seq(1, 20)) { c =>
      val e = replicate(events, c,
        Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.retentionCohorts(e).count()
    }

    probe("events_sequences", Seq(1, 20)) { c =>
      val e = replicate(events, c,
        Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.eventSequences(e, 20).count()
    }

    // hourly rollup event-sized; trailing window over HOURS only
    probe("events_anomaly", Seq(1, 20)) { c =>
      val e = replicate(events, c,
        Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.hourlyAnomaly(e).count()
    }

    // salted copies: the inverted-index join stays df-cut + banded
    probe("dedup_containment", Seq(1, 20)) { c =>
      dedup.Dedup.containmentPairs(saltedDocs(c), 3, 9000L).count()
    }

    probe("events_conversion_time", Seq(1, 20)) { c =>
      val e = replicate(events, c,
        Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.funnelLatency(e,
        Seq("view", "click", "purchase")).count()
    }

    // three serve paths over the same scan; vocab tables fixed
    probe("tokenizer_compare", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val bytes = d.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("__b"))
      def one(stats: org.apache.spark.sql.DataFrame, p: String) =
        stats.join(bytes, Seq("doc_id"))
          .agg(count(lit(1)), sum(col(p)), sum(col("__b")))
      one(text.TextAnalysis.bpeTokenStats(d), "n_tokens_bpe").collect()
      one(text.TextAnalysis.unigramStats(d, SparkEntry.unigramVocab),
        "n_pieces").collect()
      one(text.TextAnalysis.wordpieceStats(d, SparkEntry.wordpieceVocab),
        "n_pieces").collect()
      1L
    }

    // clusters dominate; the election adds one model-sized join
    probe("dedup_survivors_quality", Seq(1, 20)) { c =>
      val d = saltedDocs(c)
      dedup.Dedup.survivorsByQuality(
        dedup.Dedup.connectedComponents(
          dedup.Dedup.minhashLshPairs(d, 3, 64, 32, 0.5)),
        text.TextAnalysis.qualityGridScore(d)).count()
    }

    // synthesized ###-bearing candidates: ~1000 prompt groups whose
    // membership scales ×c — the hash-agg election's real load
    probe("dpo_pairs", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("text", concat(lit("prompt "),
          pmod(col("doc_id"), lit(1000L)), lit(" ### "), col("text")))
      pipeline.Pipeline.dpoPairs(d).count()
    }

    // aggregate over the kernel column: a bare count() would let the
    // optimizer PRUNE the kernel projection and time an empty scan
    probe("chat_loss_mask", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("text",
          concat(lit("<user> question here <assistant> "), col("text")))
      text.TextAnalysis.chatLossMask(d)
        .agg(sum(col("n_train_tokens"))).collect().length.toLong
    }

    // 1-in-7 rows get a planted 2-byte mojibake; the rest take the
    // ascii identity fast path — both branches are one kernel walk
    probe("text_mojibake", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("text", when(pmod(col("doc_id"), lit(7L)) === 0L,
          concat(lit("cafÃ© "), col("text")))
          .otherwise(col("text")))
      text.TextAnalysis.mojibakeRepair(d)
        .agg(sum(col("n_chars_fixed")), sum(col("is_mojibake").cast("long")))
        .collect().length.toLong
    }

    probe("text_rep_gopher", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.gopherRepetition(d).count()
    }

    // both label populations scale ×c, so the brute bipartite product
    // grows ×c² — the declared baseline shape; the 100 TB path feeds
    // the same elections from ANN candidate cells instead
    probe("bitext_mine", Seq(1, 10)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 1000000L))
      ann.Similarity.bitextMine(e).count()
    }

    // synthesized sentence structure: every 10th token becomes a
    // boundary, so the explode + per-doc window scale with the corpus
    probe("chunk_sentences", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("text", regexp_replace(col("text"),
          "((\\S+ ){9}\\S+) ", "$1. "))
      text.TextAnalysis.chunkSentences(d).count()
    }

    // candidates are rare (1-in-7 rows get one planted IBAN); the scan
    // is the regexp pass, the checksum fold runs only on matches
    probe("pii_iban", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("text", when(pmod(col("doc_id"), lit(7L)) === 0L,
          concat(col("text"), lit(" DE89370400440532013000")))
          .otherwise(col("text")))
      text.TextAnalysis.piiIban(d)
        .agg(sum(col("n_iban_valid"))).collect().length.toLong
    }

    // one per-user window over a ×c event log: shuffle-bound linear
    // (aggregate over the window output — count() alone would prune it)
    probe("events_attribution", Seq(1, 20)) { c =>
      val ev = replicate(events, c,
        Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.lastTouchAttribution(ev)
        .agg(sum(col("latency_seconds")), sum(col("touch_id")))
        .collect().length.toLong
    }

    // both interval sets scale ×c on the SAME date axis, so per-bin
    // density (the join's real load) scales ×c on both sides
    probe("interval_overlap_join", Seq(1, 20)) { c =>
      val o = replicate(ord, c, Map("o_orderkey" -> 100000000L))
      val base = lit("1970-01-01").cast("date")
      def days(cc: org.apache.spark.sql.Column) =
        datediff(cc.cast("date"), base).cast("long")
      val a = o.filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-03-01"))
        .select(col("o_orderkey").as("a_key"),
          days(col("o_orderdate")).as("a_lo"))
        .withColumn("a_hi", col("a_lo") + 7L)
      val b = o.filter(col("o_orderpriority") === "5-LOW" &&
          col("o_orderdate") >= lit("1995-12-15") &&
          col("o_orderdate") < lit("1996-03-15"))
        .select(col("o_orderkey").as("b_key"),
          days(col("o_orderdate")).as("b_lo"))
        .withColumn("b_hi", col("b_lo") + 10L)
      operators.RangeJoin.intervalOverlap(a, col("a_lo"), col("a_hi"),
          b, col("b_lo"), col("b_hi"), 7L)
        .groupBy(col("a_key")).count().count()
    }

    probe("kanonymity_audit", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      security.KAnonymity.classes(d, Seq(col("lang"), col("source"),
        length(bin(col("n_chars"))).cast("long").as("len_bits")), 5L).count()
    }

    probe("sink_rle_layout", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      engine.Layout.rleLayoutAudit(d, Seq("lang" -> col("lang"),
        "source" -> col("source"),
        "len_bits" -> length(bin(col("n_chars"))).cast("long"))).count()
    }

    // bucketed prefix scan: per-bucket windows + O(#buckets) driver
    // offsets — cost must track the event scan, never a global sort
    probe("events_lateness", Seq(1, 20)) { c =>
      val ev = replicate(events, c,
        Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.latenessProfile(ev).count()
    }

    // pretokenize kernel + per-pretoken trie walk + per-doc sum: the
    // full GPT-2 composition stays scan-bound
    probe("text_tokens_bpe_pretok", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.pretokenize(d)
        .withColumn("__n", text.TextAnalysis.bpeTokenCount(col("pretoken")))
        .groupBy(col("doc_id"))
        .agg(sum(col("__n")).as("n")).agg(sum(col("n")))
        .collect().length.toLong
    }

    // one kernel walk + narrow explode; agg forces the token stream
    probe("text_pretokenize", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.pretokenize(d)
        .agg(sum(length(col("pretoken")))).collect().length.toLong
    }

    // both pools stay bounded (poolK) while the corpus scales ×c: the
    // cost is the bm25 token scan + one dense scan, fusion is O(poolK)
    probe("hybrid_rrf", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 1000000L))
      ann.Similarity.hybridRrf(d, e,
        Seq("spark", "join", "merge", "slow"), 0L).count()
    }

    // ONE distinct-count pass regardless of pair count: flat-ish
    probe("fd_discovery", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
        .withColumn("len_bits", length(bin(col("n_chars"))).cast("long"))
      operators.DistinctAndFrequency.fdDiscovery(d,
        Seq("lang", "source", "len_bits")).count()
    }

    probe("benford_audit", Seq(1, 20)) { c =>
      val li2 = replicate(li, c, Map("l_orderkey" -> 100000000L))
      operators.Stats.benfordAudit(li2, col("l_quantity")).count()
    }

    probe("events_dedup_burst", Seq(1, 20)) { c =>
      val ev = replicate(events, c,
        Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      streaming.Events.burstDedup(ev).count()
    }

    // k fixed hops ⇒ k bounded scans over a ×c corpus: linear
    probe("icp_order", Seq(1, 20)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 1000000L))
      ann.Similarity.icpOrder(e, 8).count()
    }

    // each gradient step is one partial-agg pass; iters fixed ⇒ the
    // trainer scales like iters × one corpus scan, never superlinear
    probe("quality_probe_train", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val t = split(lower(col("text")), " ")
      val markers = (w: org.apache.spark.sql.Column) =>
        w === "slow" || w === "dup"
      val label = (size(filter(t, markers)) > 0).cast("double")
      val feats = Seq(size(filter(t, markers)).cast("double"),
        size(t).cast("double"))
      val (w, _, _, _) = pipeline.Pipeline.trainLogisticProbe(
        d, label, feats, iters = 10)
      w.length.toLong
    }

    // both thresholds probed: θ=0.7 is the headline envelope entry
    // (planted-fixture production threshold), θ=0.4 the declared stress
    // form whose verify volume is intrinsically ~10× larger
    probe("dedup_embedding_lsh_07", Seq(1, 20)) { c =>
      // the headline form exactly: fine buckets, valve off — if buckets
      // degenerate at scale this probe is where it shows. Replicas get
      // a per-replica coordinate SIGN FLIP (an orthogonal transform):
      // unperturbed copies would be cos=1.0 cross-replica pairs, making
      // the true-pair volume quadratic in the copy count and the probe
      // a fixture artifact (the embedding analog of saltedDocs). Within
      // a replica all cosines — including the planted 0.87 pairs — are
      // exactly preserved.
      val emb0 = replicate(SparkEntry.plantedEmb(spark, sf), c,
        Map("vec_id" -> 100000000L))
      val emb = emb0.withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
          |  IF(hash(CAST(vec_id DIV 100000000 AS INT), i) % 2 = 0, x, -x))"""
          .stripMargin))
      ann.Similarity.nearDupPairsLsh(emb, 0.7, targetBucket = 16L,
        maxBucket = 0).count()
    }
    probe("dedup_embedding_lsh_stress", Seq(1, 20)) { c =>
      // auto planes/bands: the log2(n) contract must keep candidate
      // volume (and so wall-clock) ~linear as n scales — the r3 probe
      // with FIXED planes showed superlinear growth here.
      // Replicas are sign-flip perturbed like the headline probe, BUT
      // at θ=0.4 the probe's ×20 multiplier is still dominated by the
      // fixture, not the plan: a random orthogonal transform leaves a
      // fat cross-replica cosine tail at this low threshold (64 dims ⇒
      // cos ~ N(0, 1/8); P(≥0.4) ≈ 7e-4 × 76M cross pairs), so TRUE
      // output pairs grow ~430×/20 (917 → 394k measured) while
      // wall-clock grows ~35× — time PER OUTPUT PAIR improves ~5×.
      // Judge the θ=0.7 probe for plan scaling; this entry exists to
      // show the stress form survives a pair-density explosion.
      val emb0 = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 100000000L))
      val emb = emb0.withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
          |  IF(hash(CAST(vec_id DIV 100000000 AS INT), i) % 2 = 0, x, -x))"""
          .stripMargin))
      ann.Similarity.nearDupPairsLsh(emb, 0.4).count()
    }

    // q18/q21 anchors: lineitem and orders replicate with the SAME
    // orderkey offset so the copies stay join-aligned; dims stay fixed.
    // Both shapes are keyed shuffles on l_orderkey — cost must track ×c.
    val liWide = engine.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_quantity", "l_shipdate").cache()
    liWide.count()
    val ordWide = engine.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
        "o_totalprice").cache()
    ordWide.count()

    probe("q18_big_orders", Seq(1, 20)) { c =>
      val l = replicate(liWide, c, Map("l_orderkey" -> 100000000L))
      val o = replicate(ordWide, c, Map("o_orderkey" -> 100000000L))
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250.0)
      engine.Tables.customer(spark, sf)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .count()
    }

    // q13 anchor: customers and orders replicate with the SAME custkey
    // offset so the outer join stays aligned; the double aggregation's
    // first groupBy is on c_custkey (cardinality ×c), the second on
    // c_count (cardinality ~constant) — cost must track the first.
    probe("q13_distribution", Seq(1, 20)) { c =>
      val cst = replicate(engine.Tables.customer(spark, sf)
        .select("c_custkey"), c, Map("c_custkey" -> 100000000L))
      val o = replicate(ordWide.select("o_custkey", "o_orderkey"), c,
        Map("o_custkey" -> 100000000L, "o_orderkey" -> 100000000L))
      cst.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1))).count()
    }

    // q2 anchor: the decorrelated per-part MIN must stay two narrow
    // lineitem passes + a broadcast of the (fixed-size) min table as the
    // fact side scales — superlinear growth would mean the min table is
    // being shuffled against the facts.
    probe("q2_min_equality", Seq(1, 20)) { c =>
      val l = replicate(engine.Tables.lineitem(spark, sf)
          .select("l_partkey", "l_suppkey", "l_extendedprice"), c,
        Map("l_suppkey" -> 100000000L))
      val p15 = engine.Tables.part(spark, sf)
        .filter(col("p_size") === 15).select(col("p_partkey"))
      val mins = l.join(broadcast(p15), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"))
        .agg(min(col("l_extendedprice")).as("min_price"))
      l.join(broadcast(mins),
          col("l_partkey") === col("p_partkey") &&
            col("l_extendedprice") === col("min_price"))
        .select(col("l_suppkey"), col("p_partkey"), col("min_price"))
        .distinct().count()
    }

    probe("q21_sole_late", Seq(1, 20)) { c =>
      val l = replicate(liWide, c, Map("l_orderkey" -> 100000000L))
      val o = replicate(ordWide, c, Map("o_orderkey" -> 100000000L))
      val supps = engine.Tables.supplier(spark, sf)
        .join(engine.Tables.nation(spark, sf).filter(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val l1 = l.join(o.filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .join(supps, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("l_suppkey"), col("o_orderdate"), col("s_name"))
      val lAll = l.select(col("l_orderkey").as("x_orderkey"),
        col("l_suppkey").as("x_suppkey"), col("l_shipdate").as("x_shipdate"))
      l1.join(lAll,
          col("l_orderkey") === col("x_orderkey") &&
            col("l_suppkey") =!= col("x_suppkey"), "left_semi")
        .join(lAll,
          col("l_orderkey") === col("x_orderkey") &&
            col("l_suppkey") =!= col("x_suppkey") &&
            col("x_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_anti")
        .groupBy(col("s_name")).agg(count(lit(1))).count()
    }

    // r13 additions: gram-df join (the dup_passages shape), the
    // one-scan + source-sized-loop mixer, and cross-split banding
    probe("text_memorization_risk", Seq(1, 20)) { c =>
      text.TextAnalysis.memorizationRisk(saltedDocs(c), 5)
        .agg(sum(col("n_dup_windows"))).head().getLong(0)
    }

    probe("corpus_mix_doremi", Seq(1, 20)) { c =>
      pipeline.Pipeline.doremiWeights(
        replicate(docs, c, Map("doc_id" -> 10000000L)), 3, 10000L)
        .agg(sum(col("share_ppm"))).head().getLong(0)
    }

    probe("split_leakage", Seq(1, 20)) { c =>
      val sp = pipeline.Pipeline.hashSplit(saltedDocs(c), col("doc_id"), 80)
      dedup.Dedup.minhashLshAgainst(
        sp.filter(col("split") === "test"),
        sp.filter(col("split") === "train"), 3, 64, 32, 0.5).count()
    }

    // ── ×100 flagship probes ───────────────────────────────────────
    // One decade past the ×20 table for the four end-to-end paths the
    // pipeline actually ships through — at ×20 fixed overheads (job
    // setup, codegen, the ~0.2 s/job driver tax) still mask asymptotics.
    // Expected shapes, named: minhash = one shingle scan + banded
    // candidate join (pair volume ∝ planted-dup rate, never all-pairs);
    // funnel = stacked one-pass kernels + ONE dedup window (its only
    // data-sized exchange); tokens_ids = pure narrow per-word DP serve
    // against the broadcast trie (scan-bound, zero shuffle); end2end =
    // narrow filter scans + the md5-window dedup shuffle, where ×c
    // UNSALTED replication makes every text a c-way duplicate — the
    // window partition count stays fixed (distinct texts) while rows
    // per partition grow ×c, the honest high-duplication regime.

    probe("dedup_minhash_lsh", Seq(1, 100)) { c =>
      dedup.Dedup.minhashLshPairs(saltedDocs(c), 3, 64, 32, 0.5).count()
    }

    probe("text_tokens_ids", Seq(1, 100)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      // aggregate over the fingerprint so the encode is not pruned
      val r = d.select(text.TextAnalysis.bpeEncodeIds(col("text")).as("ids"))
        .agg(sum(text.TextAnalysis.idsFingerprint(col("ids")))).head()
      if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue
    }

    probe("corpus_filter_funnel_x100", Seq(1, 100)) { c =>
      text.TextAnalysis.filterFunnel(
        replicate(docs, c, Map("doc_id" -> 10000000L)), "en",
        Seq("the", "a", "of", "and"), Seq("slow join", "qqq"))
        .agg(sum(col("n_docs"))).head().getLong(0)
    }

    // ── r14 new-op probes (the new-op ×20 protocol) ────────────────

    // byte-level BPE: pretokenize kernel + byte-map + byte-trie count —
    // three narrow per-row kernels and ONE per-doc aggregation; the
    // aggregate over the counts keeps Catalyst from pruning the kernels
    probe("text_tokens_bpe_bytes", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.TextAnalysis.pretokenize(d)
        .withColumn("__n",
          functions.BpeTokenizer.bpe_count_bytes(col("pretoken")))
        .groupBy(col("doc_id"))
        .agg(sum(col("__n")).as("n"))
        .agg(sum(col("n"))).collect()(0).getLong(0)
    }

    // lossless byte round trip: encode → ids → decode → inverse map,
    // all narrow (zero shuffle); checksum forces the whole chain
    probe("text_detokenize_bytes", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      import graft.functions.BpeTokenizer._
      d.select(byte_unicode_decode(bpe_decode(bpe_encode(
          byte_unicode(col("text")), byteVocab), byteVocab)).as("rt"))
        .agg(sum(length(col("rt")))).collect()(0).getLong(0)
    }

    // ── ×100 ADVERSARIAL-SKEW probes (r13 ask #7) ──────────────────
    // The salted-duplicate regime above keeps keys uniform; these two
    // plant the skew the guards exist for, at the decade that matters.

    probe("dedup_jaccard_dfcut_hot", Seq(1, 100)) { c =>
      // every doc gets the SAME unsalted 8-token boilerplate header, so
      // its shingles have df = N (3,000 at ×1 → 300,000 at ×100): the
      // posting-list self-join would blow up N² per hot shingle without
      // the maxShingleDocs df-cut. Guard shape: the hot list comes from
      // a map-side-combined groupBy (never a window over the hot key)
      // + anti-join; pair volume after the cut ∝ the salted tails'
      // constant true-dup density — wall-clock must stay ~linear in N.
      val d = saltedDocs(c).withColumn("text",
        concat(lit("terms of service apply all rights reserved notice "),
          col("text")))
      dedup.Dedup.jaccardPairs(d, 3, 0.5, maxShingleDocs = 2500L).count()
    }

    probe("dedup_embedding_lsh_hotband", Seq(1, 100)) { c =>
      // 20% of vectors collapse onto ONE identical embedding: a
      // degenerate cell holding 0.2·N members in EVERY band (400 at ×1
      // → 40,000 at ×100 — m²/2 candidate pairs per band without the
      // valve). maxBucket=300 keeps the cut active at BOTH decades.
      // Geometry is PINNED to the ×100 scale (planes=14 ⇒ 16k cells, the
      // autoPlanes answer for N=200k; bands=64) so both decades time the
      // same plan, and the probe isolates the VALVE rather than folding
      // in the recall-pinned band-count growth (auto bands=293 at ×100
      // would make banding volume itself the story). carryVectors: the
      // dense-candidate shape — cosine verifies inside the band
      // self-join, no pair-sized distinct/fetch materialization.
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 10000000L))
      val constVec = array((0 until 64).map(_ => lit(0.5f)): _*)
      val hot = e.withColumn("embedding",
        when(pmod(col("vec_id"), lit(5L)) === 0L, constVec)
          .otherwise(col("embedding")))
      ann.Similarity.nearDupPairsLsh(hot, 0.7, planes = 14, bands = 64,
        maxBucket = 300, carryVectors = true).count()
    }

    // ── r15: cluster-map artifact build vs serve ───────────────────
    // The write-once artifact has two cost regimes and they must be
    // probed separately (the ann_pq_build_split precedent): BUILD =
    // LSH mining + CC + atomic publish, scaling with the corpus; SERVE
    // = one parquet read of the stored model, which must stay ~flat
    // across the decade (the whole point of the artifact is that the
    // decision family's queries pay serve, never build).
    def cmapInput(c: Int): String = {
      val dir = sources.Sources.rtDir(s"probe_cmap_in_x$c")
      val done = new java.io.File(dir, "_DONE")
      if (!done.exists) {
        replicate(docs, c, Map("doc_id" -> 10000000L))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        done.createNewFile()
      }
      dir
    }
    probe("cluster_map_build", Seq(1, 20)) { c =>
      val in = cmapInput(c)
      // force a re-mine each run: drop the published marker
      // (fingerprint-addressed data dirs make this safe mid-flight)
      dedup.Dedup.clusterMapInvalidate(in)
      dedup.Dedup.clusterMapArtifact(spark, in).count()
    }
    probe("cluster_map_serve", Seq(1, 20)) { c =>
      val in = cmapInput(c)
      dedup.Dedup.clusterMapArtifact(spark, in).count()
    }

    // ── r15: incremental FOLD cost vs corpus size ──────────────────
    // The 100 TB story of clusterMapArtifactFolded: a FIXED-size delta
    // shard (the original corpus, ~60k docs) folds into a base corpus
    // that is ×c bigger. Timed region = the fold only (base map is
    // rebuilt untimed between measurements); compare against
    // cluster_map_build at the same ×c — fold must stay delta-sized
    // (delta×delta + delta×corpus banding + model-sized CC) while the
    // full mine grows with the corpus.
    if (wanted("cluster_map_fold")) Seq(1, 20).foreach { c =>
      val root = sources.Sources.rtDir(s"probe_cmap_fold_x$c")
      val done = new java.io.File(root, "_DONE")
      val shards = Seq(s"$root/base0", s"$root/base1", s"$root/delta")
      if (!done.exists) {
        val base = replicate(docs, c, Map("doc_id" -> 10000000L))
        base.filter(pmod(col("doc_id"), lit(2L)) === 0L)
          .write.mode("overwrite").parquet(s"${shards(0)}/documents.parquet")
        base.filter(pmod(col("doc_id"), lit(2L)) === 1L)
          .write.mode("overwrite").parquet(s"${shards(1)}/documents.parquet")
        // realistic ingest delta: ~95% NOVEL content (per-doc salt makes
        // the text match nothing), ~5% true near-dups of the corpus —
        // so the fold's touched-component set is delta-scaled, as it is
        // in production. (An all-duplicate delta degenerates to "every
        // cluster touched" and measures a corpus relabel, not a fold.)
        docs.withColumn("doc_id", col("doc_id") + lit(900000000L))
          .withColumn("text",
            when(pmod(col("doc_id"), lit(20L)) === 0L, col("text"))
              .otherwise(concat(col("text"),
                lit(" novelsalt"), col("doc_id").cast("string"))))
          .write.mode("overwrite").parquet(s"${shards(2)}/documents.parquet")
        done.createNewFile()
      }
      val name = s"probe_fold_x$c"
      def foldOnce(): Double = {
        // reset to the 2-shard base (untimed: a deliberate full mine of
        // the base — the published 3-shard map is not a subset source)
        dedup.Dedup.clusterMapArtifactFolded(spark, name, shards.take(2))
          .count()
        time {
          dedup.Dedup.clusterMapArtifactFolded(spark, name, shards).count()
        }
      }
      val dt = math.min(foldOnce(), foldOnce())
      println(f"PROBE cluster_map_fold     x$c%-3d ${dt}%7.2f s")
    }

    if (wanted("fold_breakdown")) {
      val c = 20
      val root = sources.Sources.rtDir(s"probe_cmap_fold_x$c")
      val shards = Seq(s"$root/base0", s"$root/base1", s"$root/delta")
      val corpus = shards.take(2).map(sd => engine.Tables.documents(spark, sd))
        .reduce(_ union _)
      val delta = engine.Tables.documents(spark, shards(2))
      val corpusBands = dedup.Dedup.bandFrame(corpus).localCheckpoint()
      val oldMap = dedup.Dedup.clusterMapArtifactFolded(spark, s"probe_fold_x$c",
        shards.take(2)).localCheckpoint()
      def t(name: String)(body: => Long): Unit = {
        val dt = time(body); println(f"BREAKDOWN $name%-18s ${dt}%7.2f s")
      }
      val dSig = dedup.Dedup.sigFrame(delta).localCheckpoint(eager = false)
      t("delta_sigs") { dSig.count() }
      t("dd_pairs") { dedup.Dedup.minhashLshPairsFromSigs(delta, dSig).count() }
      t("corpus_band_read") { corpusBands.count() }
      t("dc_pairs") { dedup.Dedup.lshAgainstBandsImpl(delta, dSig, corpus,
        corpusBands, 3, 64, 32, 0.5, viaCache = false, broadcastNew = true)
        ._1.count() }
      t("dc_cand_only") { dedup.Dedup.lshAgainstBandsImpl(delta, dSig, corpus,
        corpusBands, 3, 64, 32, 0.5, viaCache = false, broadcastNew = true)
        ._2.count() }
      t("corpus_text_scan") { corpus.select(length(col("text")))
        .agg(sum(col("length(text)"))).collect()(0).getLong(0) }
      t("full_fold") { dedup.Dedup.clusterMapFold(oldMap, corpus, delta,
        corpusBands = Some(corpusBands), deltaSigs = Some(dSig)).count() }
    }

    // ── r15 s2: LM-state fold vs full-train cost across the decade ──
    // The folded bigram state's 100 TB claim: a FIXED-size delta shard
    // folds into a ×c base by scanning ONLY the delta (+ the stored
    // model-sized state), while full training re-scans everything.
    def lmFoldInput(c: Int): Seq[String] = {
      val root = sources.Sources.rtDir(s"probe_lmfold_x$c")
      val done = new java.io.File(root, "_DONE")
      val shards = Seq(s"$root/base0", s"$root/base1", s"$root/delta")
      if (!done.exists) {
        val base = replicate(docs, c, Map("doc_id" -> 10000000L))
        base.filter(pmod(col("doc_id"), lit(2L)) === 0L)
          .write.mode("overwrite").parquet(s"${shards(0)}/documents.parquet")
        base.filter(pmod(col("doc_id"), lit(2L)) === 1L)
          .write.mode("overwrite").parquet(s"${shards(1)}/documents.parquet")
        docs.withColumn("doc_id", col("doc_id") + lit(900000000L))
          .write.mode("overwrite").parquet(s"${shards(2)}/documents.parquet")
        done.createNewFile()
      }
      shards
    }
    if (wanted("lm_state_fold")) Seq(1, 20, 100).foreach { c =>
      val shards = lmFoldInput(c)
      val name = s"probe_lmfold_x$c"
      def foldOnce(): Double = {
        // reset to the 2-shard base (untimed full rebuild), then time
        // the 3-shard call — the delta fold path
        text.TextAnalysis.bigramStateArtifactFolded(spark, name,
          shards.take(2)).count()
        time {
          text.TextAnalysis.bigramStateArtifactFolded(spark, name, shards)
            .count()
        }
      }
      val dt = math.min(foldOnce(), foldOnce())
      println(f"PROBE lm_state_fold        x$c%-3d ${dt}%7.2f s")
    }
    probe("lm_state_full", Seq(1, 20, 100)) { c =>
      val shards = lmFoldInput(c)
      val union = shards.map(sd => engine.Tables.documents(spark, sd))
        .reduce(_ union _)
      text.TextAnalysis.bigramCountState(union).count()
    }

    // ── r15 s2: PQ-index fold vs full rebuild across the decade ─────
    // The folded index's claim: a FIXED-size delta shard folds in by
    // encoding ONLY itself under the published quantizer, while a full
    // rebuild re-trains and re-encodes the whole ×c corpus.
    def pqFoldInput(c: Int): Seq[String] = {
      val root = sources.Sources.rtDir(s"probe_pqfold_x$c")
      val done = new java.io.File(root, "_DONE")
      val shards = Seq(s"$root/base0", s"$root/base1", s"$root/delta")
      if (!done.exists) {
        val embSrc = engine.Tables.embeddings(spark, sf)
        val base = replicate(embSrc, c, Map("vec_id" -> 10000000L))
        base.filter(pmod(col("vec_id"), lit(2L)) === 0L)
          .write.mode("overwrite").parquet(s"${shards(0)}/embeddings.parquet")
        base.filter(pmod(col("vec_id"), lit(2L)) === 1L)
          .write.mode("overwrite").parquet(s"${shards(1)}/embeddings.parquet")
        embSrc.withColumn("vec_id", col("vec_id") + lit(900000000L))
          .write.mode("overwrite").parquet(s"${shards(2)}/embeddings.parquet")
        done.createNewFile()
      }
      shards
    }
    if (wanted("pq_index_fold")) Seq(1, 20).foreach { c =>
      val shards = pqFoldInput(c)
      val name = s"probe_pqfold_x$c"
      def foldOnce(): Double = {
        // full reset: datasets are content-addressed, so a marker-only
        // reset would let the timed call find the delta's codes already
        // published and skip the encode — invalidate drops everything,
        // the base rebuild below is untimed, and the timed call pays
        // the genuine delta encode + publish
        ann.PqIndex.foldedIndexInvalidate(name)
        ann.PqIndex.foldedIndexServe(spark, name, shards.take(2),
          Seq(-1L), 1).count()
        time {
          ann.PqIndex.foldedIndexServe(spark, name, shards,
            Seq(-1L), 1).count()
        }
      }
      val dt = math.min(foldOnce(), foldOnce())
      println(f"PROBE pq_index_fold        x$c%-3d ${dt}%7.2f s")
    }
    if (wanted("pq_index_full")) Seq(1, 20).foreach { c =>
      val shards = pqFoldInput(c)
      val union = shards
        .map(sd => spark.read.parquet(s"$sd/embeddings.parquet"))
        .reduce(_ unionByName _)
      val dir = sources.Sources.rtDir(s"probe_pqfull_x$c")
      val dt = math.min(
        time(ann.PqIndex.build(union, dir).count()),
        time(ann.PqIndex.build(union, dir).count()))
      println(f"PROBE pq_index_full        x$c%-3d ${dt}%7.2f s")
    }

    // ── r16: depth/state receipts for the r15 RDD-step rewrites ──────
    // the exact-integer Lloyd iteration (single-stage RDD delta jobs
    // since r15): wall must scale ~linearly in corpus copies — the
    // per-step work is distributed, only step COUNT is sequential
    probe("embedding_kmeans_exact", Seq(1, 20)) { c =>
      val e = replicate(engine.Tables.embeddings(spark, sf), c,
        Map("vec_id" -> 10000000L))
      ann.Similarity.kmeansExact(e, 4, 2).count()
    }
    // HITS under the r15 sparse-state iteration: one graph-sized
    // shuffle per half-step, round max as a 1-row collect
    probe("link_hits", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      graph.LinkGraph.hits(d, 3).count()
    }
    // DRIVER-STATE growth receipt for the delta-maintained BPE trainer:
    // the pair-count map is O(distinct adjacent pairs of the evolving
    // vocabulary) — replicating the corpus 20× must NOT grow it
    // super-linearly (copies share the vocabulary, so it should be
    // near-FLAT; a corpus-proportional peak here would falsify the
    // 30k-merge production-depth posture)
    probe("bpe_pairmap_state", Seq(1, 20)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      text.BpeTrainer.trainMerges(d, 8)
      val peak = text.BpeTrainer.lastPairMapPeak
      println(f"  STATE bpe_pairmap_state x$c%-3d peak=$peak%d entries")
      peak.toLong
    }

    probe("pipeline_end2end", Seq(1, 100)) { c =>
      val d = replicate(docs, c, Map("doc_id" -> 10000000L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
      val kept = d
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens") >= 20)
        .filter(text.TextAnalysis.langId(col("text")) === "en")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val split2 = pipeline.Pipeline.hashSplit(kept, col("doc_id"), 80)
      pipeline.Pipeline.packSequences(
          split2, col("split"), col("doc_id"), col("n_tokens"), 2048L)
        .agg(sum(col("bin"))).head().getLong(0)
    }

    spark.stop()
  }
}
