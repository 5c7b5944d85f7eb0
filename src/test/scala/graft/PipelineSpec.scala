package graft

import graft.dedup.{Dedup, SimHash}
import graft.ann.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Dedup / similarity / text-analysis semantics on constructed inputs
  * with known ground truth (mirrors the reference's TestTables
  * approach, platform/.../utils/TestTables.java).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val d = docsDF(Seq("a b c", "a b c", "x y z", "a b c"))
    val groups = Dedup.exactGroups(d).collect()
    assert(groups.length == 2)
    assert(groups.map(_.getLong(2)).sorted.sameElements(Array(1L, 3L)))
  }

  test("shingle hashes are order-sensitive (transposed words differ)") {
    // regression: a fold whose first step XORs two word hashes is
    // symmetric in them, silently merging "a b ..." with "b a ..."
    // shingles and deflating exact-Jaccard set sizes
    val d = docsDF(Seq("a b c", "b a c"))
    val sets = d.select(graft.functions.MinHashExpression.shingle_set(
        split(col("text"), " "), 3).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sets(0) != sets(1), s"transposed shingles collided: ${sets(0)}")
    val sigs = d.select(graft.functions.MinHashExpression.minhash_sig(
        split(col("text"), " "), 3, 8).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) != sigs(1))
  }

  test("jaccard pairs find near-duplicates, skip dissimilar") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 28).map(i => s"w$i").mkString(" ") + " z1 z2"
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    val pairs = Dedup.jaccardPairs(docsDF(Seq(base, nearDup, other)), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("minhash-LSH pairs match exact jaccard pairs on near-dups") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nd = (1 to 38).map(i => s"w$i").mkString(" ") + " q1 q2"
    val far = (200 to 240).map(i => s"u$i").mkString(" ")
    val d = docsDF(Seq(base, nd, far))
    val exact = Dedup.jaccardPairs(d, 3, 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(d, 3, 16, 8, 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact && exact.nonEmpty)
  }

  test("connected components: chains merge, components stay apart, min id wins") {
    // components: {1,2,3,5} via chain 1-2, 2-3, 3-5 (transitive, no direct
    // 1-5 edge) and {10,11}; singleton 99 appears in no pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components converge on a long chain (diameter > 2 rounds)") {
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect().map(_.getLong(1)).distinct
    assert(cc.toSeq == Seq(0L))
  }

  test("connected components: pointer halving converges a 300-diameter path " +
      "inside the default round budget (plain propagation would need 300)") {
    // a 301-node path — the site→domain chain shape the r13 advice flagged:
    // with O(diameter) propagation this needs 300 rounds and the old
    // maxIters=25 cap would have SILENTLY returned partial labels; with
    // label := labelOf(label) halving it converges in ~9 rounds
    val pairs = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
    assert(cc.length == 301 && cc.forall(_.getLong(1) == 0L))
  }

  test("cluster-map artifact: mines once, serves reads, re-mines on stale input") {
    import java.nio.file.{Files, Paths}
    val inDir = Files.createTempDirectory("graft_cmap_in").toString
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nd = (1 to 38).map(i => s"w$i").mkString(" ") + " q1 q2"
    val far = (200 to 240).map(i => s"u$i").mkString(" ")
    docsDF(Seq(base, nd, far)).write.parquet(s"$inDir/documents.parquet")
    val d = spark.read.parquet(s"$inDir/documents.parquet")
    // r15 layout: data dirs are FINGERPRINT-ADDRESSED (map_<h>.parquet)
    // with a marker-last atomic publish, so "same files" and "fresh
    // files" are observed across every map_* dir under the artifact root
    def mapFiles(): Set[(String, Long)] = {
      val root = new java.io.File(graft.sources.Sources.rtDir("cluster_map_" +
        java.lang.Long.toHexString(scala.util.hashing.MurmurHash3
          .stringHash(inDir + "|n3-k16-b8-t0.5").toLong & 0xffffffffL)))
      Option(root.listFiles).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("map_"))
        .flatMap(d => Option(d.listFiles).toSeq.flatten)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getParentFile.getName + "/" + f.getName, f.lastModified))
        .toSet
    }
    // 1 — content identical to the direct mining path
    val art = Dedup.clusterMapArtifact(spark, inDir, 3, 16, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.connectedComponents(
      Dedup.minhashLshPairs(d, 3, 16, 8, 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(art == direct && art.nonEmpty)
    // 2 — a second call serves the STORED map: no rewrite, same files
    val before = mapFiles()
    assert(before.nonEmpty)
    Dedup.clusterMapArtifact(spark, inDir, 3, 16, 8, 0.5).count()
    assert(mapFiles() == before)
    // 3 — mutated input (new mtime) invalidates the fingerprint: the next
    // call re-mines (a NEW fingerprint-addressed dir is published)
    Option(new java.io.File(s"$inDir/documents.parquet").listFiles).toSeq
      .flatten.foreach(f => assert(f.setLastModified(f.lastModified + 5000)))
    Dedup.clusterMapArtifact(spark, inDir, 3, 16, 8, 0.5).count()
    assert(mapFiles() != before)
  }

  // ── incremental cluster-map fold (r15) ─────────────────────────────
  // a 12-doc corpus with near-dup components deliberately SPANNING the
  // doc_id-mod-3 shards: {0,1} (shards 0,1), {3,4,5} (0,1,2 — a chain
  // crossing all three shards), {7,8} (1,2), and singletons elsewhere —
  // so a fold that loses delta×corpus pairs or stored edges breaks
  private def foldCorpus(): Seq[String] = {
    def doc(words: Range, extra: String = "") =
      words.map(i => s"w$i").mkString(" ") + extra
    Seq(
      doc(1 to 40),                    // 0 ~ 1
      doc(1 to 38, " z1 z2"),          // 1
      doc(200 to 240),                 // 2 singleton
      doc(300 to 340),                 // 3 ~ 4 ~ 5 (chain across shards)
      doc(300 to 338, " y1 y2"),       // 4
      doc(302 to 340, " y1 y2"),       // 5
      doc(500 to 540),                 // 6 singleton
      doc(600 to 640),                 // 7 ~ 8
      doc(600 to 638, " x1 x2"),       // 8
      doc(700 to 740),                 // 9 singleton
      doc(800 to 840),                 // 10 singleton
      doc(900 to 940))                 // 11 singleton
  }

  private def writeShardDirs(texts: Seq[String], parts: Int,
      tag: String): Seq[String] =
    writeShardDirsOf(docsDF(texts), parts, tag)

  private def writeShardDirsOf(df: org.apache.spark.sql.DataFrame,
      parts: Int, tag: String): Seq[String] = {
    import java.nio.file.Files
    val root = Files.createTempDirectory(s"graft_fold_$tag").toString
    (0 until parts).map { i =>
      val sd = s"$root/shard_$i"
      df.filter(col("doc_id") % parts === i)
        .write.parquet(s"$sd/documents.parquet")
      sd
    }
  }

  test("incremental fold == full mine, and the artifact provenance says fold") {
    val texts = foldCorpus()
    val shards = writeShardDirs(texts, 3, "eq")
    val name = "spec_fold_eq_" + System.nanoTime()
    // base map over shards {0,1} (full mine), then shard 2 FOLDS in
    Dedup.clusterMapArtifactFolded(spark, name, shards.take(2), 3, 16, 8, 0.5)
      .count()
    val folded = Dedup.clusterMapArtifactFolded(spark, name, shards, 3, 16, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docsDF(texts), 3, 16, 8, 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == full && folded.nonEmpty)
    // the cross-shard chain {3,4,5} must have collapsed to one cluster
    assert(Set(3L, 4L, 5L).map(id => folded.find(_._1 == id).map(_._2))
      .flatten == Set(3L))
    val prov = Dedup.foldedArtifactProvenance(name, 3, 16, 8, 0.5)
    assert(prov.exists(_.startsWith("fold +1 shard(s) onto 2")), prov)
    // serving again is a pure read: provenance unchanged, same map
    val again = Dedup.clusterMapArtifactFolded(spark, name, shards, 3, 16, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == folded &&
      Dedup.foldedArtifactProvenance(name, 3, 16, 8, 0.5) == prov)
  }

  test("3-shard fold is order-independent: any base pair + folded third " +
      "yields the identical map") {
    val texts = foldCorpus()
    val shards = writeShardDirs(texts, 3, "ord")
    val maps = Seq(
      Seq(0, 1, 2), Seq(1, 2, 0), Seq(2, 0, 1)).map { order =>
      val name = s"spec_fold_ord_${order.mkString}_" + System.nanoTime()
      Dedup.clusterMapArtifactFolded(spark, name,
        order.take(2).map(shards), 3, 16, 8, 0.5).count()
      Dedup.clusterMapArtifactFolded(spark, name,
        order.map(shards), 3, 16, 8, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(maps.forall(_ == maps.head) && maps.head.nonEmpty)
  }

  test("boilerplate folded state: fold == batch, any order, provenance") {
    import java.nio.file.Files
    // multi-line docs with boilerplate spanning the mod-3 shards
    val b = "accept all cookies now"
    val texts = Seq(
      s"$b\nalpha body", "bravo body", s"$b\ncharlie body",
      "delta body", s"$b\necho body", "foxtrot body")
    val shards = writeShardDirs(texts, 3, "bp")
    def stateOf(m: Set[(String, Long, Long, Long)]) = m
    val batch = TextAnalysis.boilerplateState(docsDF(texts).select(
        col("doc_id"), col("text")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val maps = Seq(Seq(0, 1, 2), Seq(2, 0, 1)).map { order =>
      val name = s"spec_bpfold_${order.mkString}_" + System.nanoTime()
      TextAnalysis.boilerplateStateArtifactFolded(spark, name,
        order.take(2).map(shards)).count()
      val m = TextAnalysis.boilerplateStateArtifactFolded(spark, name,
          order.map(shards))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(TextAnalysis.boilerplateFoldedProvenance(name)
        .exists(_.startsWith("fold +1 shard(s) onto 2")))
      m
    }
    assert(maps.forall(_ == batch) && batch.nonEmpty)
    // the spanning boilerplate line's census is cross-shard correct
    assert(batch.contains((b, 3L, 3L, 0L)))
  }

  test("LM bigram folded state: fold == batch model, provenance") {
    // bigrams spanning the mod-3 shards so the fold genuinely merges
    // cross-shard counts ("a b" appears in shards 0, 2, and 0 again)
    val texts = Seq("a b c a b", "c d e", "a b x", "y z a b", "d e f", "q r s")
    val shards = writeShardDirs(texts, 3, "lm")
    val batch = TextAnalysis.bigramModel(docsDF(texts))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val name = "spec_lmfold_" + System.nanoTime()
    TextAnalysis.bigramStateArtifactFolded(spark, name, shards.take(2)).count()
    val folded = TextAnalysis.bigramModelFromStates(Seq(
        TextAnalysis.bigramStateArtifactFolded(spark, name, shards)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(folded == batch && folded.nonEmpty)
    assert(TextAnalysis.bigramFoldedProvenance(name)
      .exists(_.startsWith("fold +1 shard(s) onto 2")))
  }

  test("generic folded artifact: a mutated published shard forces a " +
      "full re-mine (serveFoldedShards staleness path)") {
    // the cluster map's staleness spec covers its specialized
    // implementation; this pins the SHARED serveFoldedShards path
    val texts = Seq("a b c", "d e f", "a b g", "h i j", "j k l", "l m n")
    val shards = writeShardDirs(texts, 3, "lmstale")
    val name = "spec_lmstale_" + System.nanoTime()
    TextAnalysis.bigramStateArtifactFolded(spark, name, shards.take(2)).count()
    Option(new java.io.File(s"${shards(0)}/documents.parquet").listFiles)
      .toSeq.flatten
      .foreach(f => assert(f.setLastModified(f.lastModified + 5000)))
    val m = TextAnalysis.bigramStateArtifactFolded(spark, name, shards)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = TextAnalysis.bigramCountState(docsDF(texts))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(m == batch && m.nonEmpty)
    assert(TextAnalysis.bigramFoldedProvenance(name)
      .exists(_.startsWith("full mine of 3")))
  }

  test("langid folded state: fold == batch counting, seed is part of " +
      "the artifact identity") {
    import spark.implicits._
    val rows = Seq(
      (0L, "hello there world", "en", "seed"),
      (1L, "bonjour le monde", "fr", "seed"),
      (2L, "more english text here", "en", "seed"),
      (3L, "salut encore le monde", "fr", "seed"),
      (4L, "untrusted crawl row", "xx", "crawl"),
      (5L, "encore du texte simple", "fr", "seed"))
    val df = rows.toDF("doc_id", "text", "lang", "source")
    val shards = writeShardDirsOf(df, 3, "lid")
    val seed = "source = 'seed'"
    val batch = TextAnalysis.langidCountState(df, expr(seed))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val name = "spec_lidfold_" + System.nanoTime()
    TextAnalysis.langidStateArtifactFolded(spark, name, shards.take(2), seed)
      .count()
    val folded = TextAnalysis
      .langidStateArtifactFolded(spark, name, shards, seed)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(folded == batch && folded.nonEmpty)
    assert(TextAnalysis.langidFoldedProvenance(name, seed)
      .exists(_.startsWith("fold +1 shard(s) onto 2")))
    // the untrusted row's grams must not be in the model
    assert(!folded.exists(_._1 == "xx"))
    // a DIFFERENT seed predicate is a different lineage — no publication
    assert(!TextAnalysis.langidFoldedExists(name, "lang = 'en'"))
  }

  test("dedup threshold curve and source matrix conserve the pair set") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h", "s1"), (2L, "a b c d e f g h", "s2"),
      (3L, "a b c d e f g x", "s1"), (4L, "q w e r t y u i", "s2"),
      (5L, "z x c v b n m k", "s1")).toDF("doc_id", "text", "source")
    val pairs = Dedup.minhashLshPairs(df, 3, 16, 8, 0.5).cache()
    val total = pairs.count()
    assert(total >= 2) // the planted trio yields at least (1,2), (1,3)/(2,3)
    val curve = pairs
      .withColumn("theta_e2", (floor(col("jaccard") * 20) * 5).cast("long"))
      .groupBy(col("theta_e2")).agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // buckets partition the pair set, every bucket in [50, 100]
    assert(curve.values.sum == total)
    assert(curve.keys.forall(k => k >= 50 && k <= 100))
    // the exact duplicate lands in the top bucket
    assert(curve.contains(100L))
    val src = df.select(col("doc_id"), col("source"))
    val matrix = pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
        Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("a"),
        greatest(col("sa"), col("sb")).as("b"))
      .groupBy(col("a"), col("b")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // the matrix partitions the pair set and the cross-source dup
    // (docs 1 and 2) shows up in the (s1, s2) cell
    assert(matrix.values.sum == total)
    assert(matrix.getOrElse(("s1", "s2"), 0L) >= 1L)
    pairs.unpersist()
  }

  test("folded PQ index artifact: fold == append serve parity, provenance") {
    import spark.implicits._
    // deterministic small embeddings: dim 8, 30 vectors over 3 shards
    val vecs = (0 until 30).map { i =>
      (i.toLong, (0 until 8).map(t => ((i * 7 + t * 3) % 13 - 6).toFloat / 6f),
        i % 3)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft_pqfold").toString
    val shards = (0 until 3).map { i =>
      val sd = s"$root/shard_$i"
      df.filter(col("vec_id") % 3 === i)
        .write.parquet(s"$sd/embeddings.parquet")
      sd
    }
    val name = "spec_pqfold_" + System.nanoTime()
    // base index over shards {0,1}, then shard 2 FOLDS in (encode-only)
    graft.ann.PqIndex.foldedIndexServe(spark, name, shards.take(2),
      Seq(0L), 1, m = 4, ksub = 4, nlist = 4).count()
    val folded = graft.ann.PqIndex.foldedIndexServe(spark, name, shards,
        Seq(0L, 1L, 2L), 5, nprobe = 2, m = 4, ksub = 4, nlist = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(folded.nonEmpty)
    assert(graft.ann.PqIndex.foldedIndexProvenance(name, m = 4, ksub = 4,
      nlist = 4).exists(_.startsWith("fold +1 shard(s) onto 2")))
    // parity with the classic build+append path over the same shards:
    // train on the base union, append the delta, serve — same quantizer
    // identity, same codes, same decisions
    val base = shards.take(2)
      .map(sd => spark.read.parquet(s"$sd/embeddings.parquet"))
      .reduce(_ unionByName _)
    val all = shards
      .map(sd => spark.read.parquet(s"$sd/embeddings.parquet"))
      .reduce(_ unionByName _)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_pqfold_ref").toString
    graft.ann.PqIndex.build(base, dir2, m = 4, ksub = 4, nlist = 4)
    graft.ann.PqIndex.append(
      spark.read.parquet(s"${shards(2)}/embeddings.parquet"), dir2)
    val appended = graft.ann.PqIndex.serve(all, dir2, Seq(0L, 1L, 2L), 5,
        nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(folded == appended)
  }

  test("zone-map manifest folded state: fold == one-pass build, provenance") {
    import graft.engine.Skipping
    val texts = (0 until 12).map(i => s"doc number $i content")
    val shards = writeShardDirs(texts, 3, "zm")
    val partSql = "CAST(floor(doc_id / 4) AS BIGINT)"
    val batch = Skipping
      .buildZoneMap(docsDF(texts).withColumn("batch", expr(partSql)),
        "batch", Seq("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val name = "spec_zmfold_" + System.nanoTime()
    Skipping.zoneMapArtifactFolded(spark, name, shards.take(2), "batch",
      partSql, Seq("doc_id")).count()
    val folded = Skipping
      .zoneMapArtifactFolded(spark, name, shards, "batch", partSql,
        Seq("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the mod-3 shards interleave every batch, so the fold genuinely
    // merges min/max/count across shard mini-manifests
    assert(folded == batch && folded.nonEmpty)
    assert(Skipping.zoneMapFoldedProvenance(name, "batch", partSql,
      Seq("doc_id")).exists(_.startsWith("fold +1 shard(s) onto 2")))
  }

  test("artifact GC grace period runs from supersession, not publication") {
    import graft.engine.Artifacts
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gc_spec").toString
    def dataDir(fp: String) =
      new java.io.File(dir, s"map_${Artifacts.md5Hex(fp)}.parquet")
    def build = Seq((1L, "x")).toDF("id", "v")
    Artifacts.serveOrBuild(spark, dir, "fpA")(build).count()
    val a = dataDir("fpA")
    assert(a.isDirectory)
    // make A an OLD publication — under the buggy publish-age clock
    // this alone would make it instantly collectable
    a.setLastModified(System.currentTimeMillis() - 60 * 60 * 1000L)
    // B supersedes A: A must survive the publish, stamped not deleted
    Artifacts.serveOrBuild(spark, dir, "fpB")(build).count()
    assert(a.isDirectory, "old publication deleted with no grace window")
    val stamp = new java.io.File(a, ".graft_superseded")
    assert(stamp.exists, "superseded dataset not stamped")
    // stamped dataset inside the window survives ANOTHER publish
    Artifacts.serveOrBuild(spark, dir, "fpC")(build).count()
    assert(a.isDirectory)
    // age the supersession stamp past the window: the next publish
    // finally collects A (and only A — C is current, B is in-window)
    stamp.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L)
    Artifacts.serveOrBuild(spark, dir, "fpD")(build).count()
    assert(!a.exists, "aged superseded dataset not collected")
    assert(dataDir("fpB").isDirectory && dataDir("fpD").isDirectory)
    // re-publishing a previously-superseded fingerprint makes its
    // dataset current again AND clears the stale supersession stamp,
    // so a future supersession restarts the clock from zero
    assert(new java.io.File(dataDir("fpB"), ".graft_superseded").exists)
    Artifacts.serveOrBuild(spark, dir, "fpB")(build).count()
    assert(!new java.io.File(dataDir("fpB"), ".graft_superseded").exists,
      "stale stamp not cleared on re-publication")
  }

  test("artifact snapshot log: publication history, time travel within " +
      "retention, GC honors retained versions, invalidate clears") {
    import graft.engine.Artifacts
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_spec").toString
    def md5(fp: String) = Artifacts.md5Hex(fp)
    def build(v: Long) = Seq((v, s"v$v")).toDF("id", "v")
    try {
      Artifacts.retainOverride = Some(1)
      Artifacts.serveOrBuild(spark, dir, "fpA")(build(1)).count()
      // re-serving the current version appends NO duplicate log entry
      Artifacts.serveOrBuild(spark, dir, "fpA")(build(1)).count()
      assert(Artifacts.snapshotLog(dir).map(_._2) == Seq(md5("fpA")))
      Artifacts.serveOrBuild(spark, dir, "fpB")(build(2)).count()
      Artifacts.serveOrBuild(spark, dir, "fpC")(build(3)).count()
      assert(Artifacts.snapshotLog(dir).map(_._2) ==
        Seq(md5("fpA"), md5("fpB"), md5("fpC")))
      def mapDir(fp: String) =
        new java.io.File(dir, s"map_${md5(fp)}.parquet")
      def stamp(fp: String) =
        new java.io.File(mapDir(fp), ".graft_superseded")
      // at C's publish the retained window is (B, C): A carries a
      // supersession stamp, B is retention-protected — NO stamp, so
      // retention beats the grace clock by construction
      assert(stamp("fpA").exists)
      assert(!stamp("fpB").exists, "retained version must not be stamped")
      stamp("fpA").setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L)
      Artifacts.serveOrBuild(spark, dir, "fpD")(build(4)).count()
      // the window shifted to (C, D): aged-out A collects, B falls out
      // of retention and its supersession clock starts only NOW
      assert(!mapDir("fpA").exists, "beyond-retention version not collected")
      assert(Artifacts.serveSnapshot(spark, dir, md5("fpA")).isEmpty)
      assert(mapDir("fpB").isDirectory && stamp("fpB").exists,
        "fall-out version must start its grace clock")
      // same age, different fates: B aged past grace collects on the
      // next sweep while retained C survives stampless
      stamp("fpB").setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L)
      Artifacts.gcSuperseded(dir, Seq(
        java.nio.file.Paths.get(dir, s"map_${md5("fpD")}.parquet")))
      assert(!mapDir("fpB").exists)
      assert(!stamp("fpC").exists)
      val c = Artifacts.serveSnapshot(spark, dir, md5("fpC"))
      assert(c.exists(_.collect().map(_.getLong(0)).toSeq == Seq(3L)),
        "retained version not readable")
      assert(Artifacts.snapshotMarker(dir, md5("fpC")).contains("fpC"))
      Artifacts.invalidate(dir)
      assert(Artifacts.snapshotLog(dir).isEmpty &&
        Artifacts.serveSnapshot(spark, dir, md5("fpD")).isEmpty)
    } finally Artifacts.retainOverride = None
  }

  test("cluster topic terms rank each cluster's distinguishing vocabulary " +
      "first (class-based TF-IDF)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha alpha shared"), (1L, "alpha shared shared"),
      (2L, "beta beta shared"), (3L, "beta shared common"))
      .toDF("doc_id", "text")
    val assign = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1))
      .toDF("vec_id", "cluster")
    val out = TextAnalysis.clusterTopicTerms(docs, assign, 2)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    // k rows per cluster, ranks 1..k
    assert(out.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._6).sorted.sameElements(1 to rs.length) && rs.length == 2 })
    // the cluster-specific word wins each cluster; corpus-wide "shared"
    // has idf ln(1) = 0 and can never outrank it
    assert(out.filter(_._6 == 1).map(r => r._1 -> r._2).toMap ==
      Map(0 -> "alpha", 1 -> "beta"))
    // tf and df are the exact counts (alpha: 3 in cluster 0, 2 docs)
    val alpha = out.find(r => r._1 == 0 && r._2 == "alpha").get
    assert(alpha._3 == 3L && alpha._4 == 2L)
    // cluster 1's runner-up is its own rare word, not the idf-0 filler
    assert(out.find(r => r._1 == 1 && r._6 == 2).get._2 == "common")
  }

  test("mutated published shard forces a full re-mine, not a bogus fold") {
    val texts = foldCorpus()
    val shards = writeShardDirs(texts, 3, "stale")
    val name = "spec_fold_stale_" + System.nanoTime()
    Dedup.clusterMapArtifactFolded(spark, name, shards.take(2), 3, 16, 8, 0.5)
      .count()
    // mutate shard 0 (a published shard) — its fingerprint is now stale,
    // so the stored map cannot be folded onto; requesting all 3 shards
    // must full-mine
    Option(new java.io.File(s"${shards(0)}/documents.parquet").listFiles)
      .toSeq.flatten
      .foreach(f => assert(f.setLastModified(f.lastModified + 5000)))
    val m = Dedup.clusterMapArtifactFolded(spark, name, shards, 3, 16, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docsDF(texts), 3, 16, 8, 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m == full)
    assert(Dedup.foldedArtifactProvenance(name, 3, 16, 8, 0.5)
      .exists(_.startsWith("full mine of 3")))
  }

  test("connected components THROW instead of returning non-converged labels") {
    // diameter 40 cannot finish in 2 halving rounds; partial labels are
    // wrong dedup decisions, so exhausting maxIters must be an error
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("survivors keep one doc per cluster plus all untouched docs") {
    val d = docsDF(Seq("a", "b", "c", "d", "e")) // ids 0..4
    val pairs = Seq((0L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val kept = Dedup.survivors(d, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 1L, 3L)) // 2 and 4 collapse into 0
  }

  test("contamination flags only docs sharing an n-gram with the eval set") {
    val train = docsDF(Seq("alpha beta gamma delta", "x y z w")) // ids 0, 1
    val eval = Seq((100L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.contamination(train, eval, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // shared 3-grams: "beta gamma delta" only; doc 1 is clean
    assert(got.toSeq == Seq((0L, 1L)))
  }

  test("repetition signals: uniform text scores low, repeated text scores high") {
    val varied = (1 to 20).map(i => s"w$i").mkString(" ")
    val loop = Seq.fill(10)("spam ham").mkString(" ")
    val sig = graft.text.TextAnalysis.repetitionSignals(docsDF(Seq(varied, loop)))
      .orderBy("doc_id").collect()
    assert(sig(0).getAs[Double]("dup_token_frac") == 0.0)
    assert(sig(0).getAs[Double]("top_2gram_frac") < 0.1)
    assert(sig(1).getAs[Double]("dup_token_frac") > 0.8)
    // "spam ham" repeated: "spam ham" 10× and "ham spam" 9× of 19 grams
    assert(sig(1).getAs[Double]("top_2gram_frac") > 0.5)
  }

  test("sorted intersect size equals array_intersect on shingle sets") {
    val d = spark.read.parquet(s"$sf/documents.parquet").limit(200)
      .select(col("doc_id"), graft.functions.MinHashExpression.shingle_set(
        split(lower(col("text")), " "), 3).as("shs"))
      .filter(size(col("shs")) > 0)
    val pairs = d.as("a").crossJoin(d.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id")).limit(5000)
      .select(
        graft.functions.MinHashExpression.sorted_intersect_size(
          col("a.shs"), col("b.shs")).as("fast"),
        size(array_intersect(col("a.shs"), col("b.shs"))).as("ref"))
    assert(pairs.filter(col("fast") =!= col("ref")).count() == 0)
    assert(pairs.filter(col("fast") > 0).count() > 0) // non-trivial overlap
  }

  test("repetition fractions land exactly on the 1e-4 grid at boundary ratios") {
    // (n, d): n tokens of which d distinct — engineered so 1 - d/n sits
    // exactly on a k/10^4 grid line, where a floor(double*1e4) form sits
    // one ulp short (1 - 8/10 -> 0.19999999999999996 -> 1999 not 2000).
    val cases = Seq((10, 8), (25, 17), (16, 12), (5, 4), (20, 15), (1000, 993))
    val rows = cases.zipWithIndex.map { case ((n, d), i) =>
      (i.toLong, ((0 until d).map(j => s"w$j") ++ Seq.fill(n - d)("w0")).mkString(" "))
    }
    val out = TextAnalysis.repetitionSignals(rows.toDF("doc_id", "text"))
      .select("doc_id", "n_tokens", "dup_token_frac").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    cases.zipWithIndex.foreach { case ((n, d), i) =>
      val expect = ((n - d).toLong * 10000L / n).toDouble / 10000.0
      assert(out(i.toLong) == ((n, expect)), s"n=$n d=$d got=${out(i.toLong)}")
    }
  }

  test("PII redaction scrubs emails, phones, IPs; leaves prose and versions") {
    val d = docsDF(Seq(
      "mail bob.smith+x@corp.example.org now",
      "call 415-555-1234 or visit 10.0.0.1 today",
      "version 1.2.3.4.5 stays, pi 3.14 stays"))
    val out = d.select(graft.text.TextAnalysis.redactPii(col("text")).as("t"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "call <PHONE> or visit <IP> today")
    assert(out(2) == "version 1.2.3.4.5 stays, pi 3.14 stays")
  }

  test("simhash: identical text distance 0; near text small distance") {
    val t1 = (1 to 50).map(i => s"tok$i").mkString(" ")
    val t2 = (1 to 48).map(i => s"tok$i").mkString(" ") + " x y"
    val fps = SimHash.fingerprints(docsDF(Seq(t1, t1, t2))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(1L))
    assert(java.lang.Long.bitCount(fps(0L) ^ fps(2L)) < 20)
    val pairs = SimHash.nearDupPairs(docsDF(Seq(t1, t1)), 8).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L && r.getInt(2) == 0))
  }

  test("SimHash60 custom expression matches the Column reference form") {
    val d = graft.engine.Tables.documents(spark, sf).limit(50)
    val both = d.select(
      SimHash.simhash(col("text")).as("fast"),
      SimHash.simhashReference(col("text")).as("ref")).collect()
    assert(both.nonEmpty && both.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("FloatVecDot/Norm match the interpreted HOF forms") {
    val e = graft.engine.Tables.embeddings(spark, sf).limit(20)
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val pairs = e.select(col("embedding").as("a")).crossJoin(
      e.select(col("embedding").as("b")))
    val rows = pairs.select(
      Similarity.dot(col("a"), col("b")).as("fast"), hofDot.as("ref")).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine of identical vectors is 1; orthogonal is 0") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f)),
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(0.0f, 5.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, -1.0, dim = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-9)
    assert(math.abs(pairs((0L, 2L))) < 1e-9)
  }

  test("brute-force topk ranks the exact nearest first") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val res = Similarity.bruteForceTopK(emb, Seq(0L), 5).collect()
    assert(res.length == 5)
    val sims = res.map(_.getDouble(3))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("IVF topk: self-cell recall includes exact top-1 for most queries") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ivf = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 10, nlist = 4, nprobe = 4)
      .collect().groupBy(_.getLong(0))
    // with nprobe == nlist the search is exhaustive → exact top-1 present
    exact.foreach { case (q, n1) =>
      assert(ivf(q).map(_.getLong(2)).contains(n1), s"query $q missing $n1")
    }
  }

  test("LSH topk: scores consistent with brute force, ordered, strong matches found") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    // exact cosine of every pair, via brute force with k = all
    val exactAll = Similarity.bruteForceTopK(emb, qs, n).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(emb, qs, 10).collect()
    assert(lsh.nonEmpty)
    // 1) every LSH hit reports the same cosine as the exact computation
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(math.abs(r.getDouble(3) - exactAll(key)) < 1e-9, s"score mismatch at $key")
    }
    // 2) ranks are ordered by descending cosine within each query
    lsh.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // 3) strong matches (cos >= 0.5 — likely bucket-colliding) are found
    val strong = exactAll.filter { case ((q, _), c) => c >= 0.5 }
    val found = lsh.map(r => (r.getLong(0), r.getLong(2))).toSet
    strong.keys.foreach { k =>
      assert(found.contains(k), s"strong match $k (cos=${exactAll(k)}) missed")
    }
  }

  test("int8 quantization: codes in [-127,127], dequantized cosine >= 0.999") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val scale = Similarity.quantizeInt8Scale(col("embedding"))
    val q = Similarity.quantizeInt8(col("embedding"), scale)
    val deq = Similarity.dequantize(q, scale)
    val orig = transform(col("embedding"), x => x.cast("double"))
    def dotD(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val stats = e.select(
      least(array_min(q), lit(127) - array_max(q)).as("bound"),
      (dotD(orig, deq) / (sqrt(dotD(orig, orig)) * sqrt(dotD(deq, deq))))
        .as("cos")).agg(min("bound"), min("cos")).head
    assert(stats.getInt(0) >= -127) // codes within int8 range both ways
    assert(stats.getDouble(1) >= 0.999, s"worst dequantized cosine ${stats.getDouble(1)}")
  }

  test("quantized top-k recall >= 0.9 vs exact full-precision ranking") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val exact = sets(Similarity.bruteForceTopK(e, qids, 10))
    val quant = sets(Similarity.quantizedTopK(e, qids, 10))
    val recall = qids.map(q => (exact(q) & quant(q)).size.toDouble / 10).sum / qids.size
    assert(recall >= 0.9, s"quantized recall $recall")
  }

  test("kmeans assigns every vector to its argmax-cosine centroid") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = e.count()
    val assigned = Similarity.kmeansAssign(e, 8, 2)
    assert(assigned.count() == n)
    val mm = assigned.agg(min("cluster"), max("cluster")).head
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 7)
    // recompute the argmax in plain Scala for a sample of vectors
    val cents = Similarity.kmeansCentroids(e, 8, 2)
    def cos(v: Seq[Float], c: Array[Float]): Double = {
      var dot = 0.0; var nv = 0.0; var nc = 0.0; var i = 0
      while (i < v.length) {
        dot += v(i).toDouble * c(i); nv += v(i).toDouble * v(i)
        nc += c(i).toDouble * c(i); i += 1
      }
      dot / (math.sqrt(nv) * math.sqrt(nc))
    }
    val byId = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    e.limit(30).collect().foreach { r =>
      val v = r.getSeq[Float](1)
      val best = cents.minBy { case (c, i) => (1.0 - cos(v, c), i) }._2
      assert(byId(r.getLong(0)) == best, s"vec ${r.getLong(0)}")
    }
  }

  test("semantic dedup: clone pairs found within clusters, subset of exact") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // plant jittered clones (cos ≈ 0.999 to their original): SemDeDup's
    // regime — true near-dups land in the same k-means cell
    val clones = e.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val corpus = e.unionByName(clones)
    val pairs = Similarity.semanticDedupPairs(corpus, 0.95, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = e.collect().map(_.getLong(0)).map(id => (id, id + 1000000L)).toSet
    val recall = (pairs & expected).size.toDouble / expected.size
    assert(recall >= 0.9, s"clone recall $recall (${expected.size} clones)")
    // precision is exact by construction: every emitted pair re-passes
    // the true cosine threshold
    val exact = Similarity.nearDupPairs(corpus, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(exact), s"false positives: ${pairs -- exact}")
  }

  test("rolling hash is order-sensitive, fingerprint is order-insensitive") {
    val d = docsDF(Seq("alpha beta gamma", "gamma beta alpha"))
    val rh = TextAnalysis.rollingFingerprints(d).collect().map(_.getLong(1))
    assert(rh(0) != rh(1))
    val fp = TextAnalysis.fingerprints(d).collect().map(_.getString(1))
    assert(fp(0) == fp(1))
  }

  test("quality metrics bounded") {
    val q = TextAnalysis.quality(graft.engine.Tables.documents(spark, sf)).collect()
    assert(q.forall { r =>
      val score = r.getDouble(4)
      score >= 0.0 && score <= 1.0 && r.getInt(1) > 0
    })
  }

  test("chunking covers the document: stride-sized prefixes reassemble the text") {
    val d = docsDF(Seq("abcdefghij" * 20, "short"))
    val chunks = TextAnalysis.chunk(d, 8, 4).collect()
    // every chunk is the substring it claims to be, and concatenating
    // each chunk's first `stride` chars in order rebuilds the document
    val byDoc = chunks.groupBy(_.getLong(0))
    for ((id, rows) <- byDoc) {
      val text = if (id == 0L) "abcdefghij" * 20 else "short"
      rows.foreach { r =>
        assert(r.getString(3) == text.substring(r.getInt(2) - 1,
          math.min(r.getInt(2) - 1 + 8, text.length)))
      }
      val rebuilt = rows.sortBy(_.getInt(1))
        .map(r => r.getString(3).take(4)).mkString
      assert(rebuilt == text, s"doc $id reassembly")
    }
    // overlap: consecutive chunks share chunkChars - stride chars
    val doc0 = byDoc(0L).sortBy(_.getInt(1))
    assert(doc0(0).getString(3).drop(4) == doc0(1).getString(3).take(4))
  }

  test("model score sums matched dyadic weights from the bias") {
    val d = docsDF(Seq("the data analysis", "click buy now", "nothing matches here"))
    val s = d.select(col("doc_id"),
        TextAnalysis.modelScore(col("text"),
          Seq("the" -> 0.125, "data" -> 0.5, "analysis" -> 0.375,
            "click" -> -0.75, "buy" -> -0.75), -1.0).as("raw"))
      .orderBy("doc_id").collect().map(_.getDouble(1))
    assert(s(0) == -1.0 + 0.125 + 0.5 + 0.375)
    assert(s(1) == -1.0 - 0.75 - 0.75)
    assert(s(2) == -1.0)
    // logistic stays in (0,1) and is monotone in the raw score
    val p = d.select(TextAnalysis.modelProb(
      TextAnalysis.modelScore(col("text"), Seq("data" -> 0.5), 0.0)))
      .collect().map(_.getDouble(0))
    assert(p.forall(x => x > 0.0 && x < 1.0))
  }

  test("dup passages: shared 5-token window found, unique docs report zero") {
    val shared = "one two three four five"
    val d = docsDF(Seq(
      s"intro words $shared trailing text here",
      s"different lead-in then $shared and more",
      "totally unrelated content with no overlap at all"))
    val r = TextAnalysis.dupPassages(d, 5).orderBy("doc_id").collect()
    assert(r.length == 3)
    assert(r(0).getLong(2) >= 1 && r(1).getLong(2) >= 1) // n_dup_windows
    assert(r(2).getLong(2) == 0)
    assert(r(2).getDouble(3) == 0.0)
  }

  test("remove dup spans keeps the lowest-doc copy and cuts the rest") {
    val d = docsDF(Seq(
      "a b c v w x y z q r",          // doc0: keeper of every shared window
      "m n v w x y z o p k",          // doc1: shares exactly "v w x y z"
      "totally different words here now okay", // doc2: untouched
      "a b c v w x y z q r",          // doc3: full copy of doc0 → fully cut
      "tiny doc"))                    // doc4: < w tokens → passes through
    val r = TextAnalysis.removeDupSpans(d, 5).orderBy("doc_id").collect()
    assert(r.length == 5)
    assert(r(0).getString(3) == "a b c v w x y z q r") // keeper intact
    assert(r(1).getString(3) == "m n o p k")           // window cut
    assert(r(1).getLong(2) == 5L)
    assert(r(2).getString(3) == "totally different words here now okay")
    assert(r(3).getLong(2) == 0L && r(3).getString(3) == "") // copy erased
    // a transform must not DROP windowless docs
    assert(r(4).getLong(1) == 2L && r(4).getString(3) == "tiny doc")
  }

  test("line dedup: keeper keeps all copies, others lose all, blanks and uniques survive") {
    val d = docsDF(Seq(
      "boiler\nunique zero\nboiler",  // doc0: keeper of 'boiler', both copies stay
      "boiler\nunique one",           // doc1: loses its copy
      "same line\nsame line\n\ntail", // doc2: WITHIN-doc repeat only (df=1) → kept
      "boiler"))                      // doc3: 100% boilerplate → erased, not dropped
    val r = TextAnalysis.removeDupLines(d).orderBy("doc_id").collect()
    assert(r.length == 4)
    assert(r(0).getString(3) == "boiler\nunique zero\nboiler")
    assert(r(1).getString(3) == "unique one" && r(1).getLong(2) == 1L)
    assert(r(2).getString(3) == "same line\nsame line\n\ntail")
    assert(r(3).getLong(2) == 0L && r(3).getString(3) == "")
    // detection agrees: one boilerplate line, df 3, keeper doc0
    val b = TextAnalysis.boilerplateLines(d, 2).collect()
    assert(b.length == 1 && b(0).getString(0) == "boiler")
    assert(b(0).getLong(1) == 3L && b(0).getLong(2) == 4L && b(0).getLong(3) == 0L)
  }

  test("boilerplate state merges exactly across disjoint shards, any fold order") {
    val d = docsDF(Seq(
      "boiler\nunique zero\nboiler",
      "boiler\nunique one",
      "same line\nsame line\n\ntail",
      "boiler",
      "same line\nclosing"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val batch = graft.text.TextAnalysis.boilerplateState(d)
      .collect().map(key).toSet
    // three disjoint shards, two fold orders — bit-equal to the batch
    val shards = (0 until 3).map(k =>
      graft.text.TextAnalysis.boilerplateState(
        d.filter(pmod(col("doc_id"), lit(3L)) === k.toLong)))
    val m1 = graft.text.TextAnalysis.mergeBoilerplateStates(shards)
      .collect().map(key).toSet
    val m2 = graft.text.TextAnalysis.mergeBoilerplateStates(shards.reverse)
      .collect().map(key).toSet
    assert(m1 == batch && m2 == batch && batch.nonEmpty)
    // the within-doc repeat: n_docs counts DOCS (2), occurrences 3
    assert(batch.contains(("same line", 2L, 3L, 2L)))
    // ...and the derived list equals the batch detection
    val inc = graft.text.TextAnalysis.mergeBoilerplateStates(shards)
      .filter(col("n_docs") >= 2).collect().map(key).toSet
    val det = graft.text.TextAnalysis.boilerplateLines(d, 2)
      .collect().map(key).toSet
    assert(inc == det)
  }

  test("normalized line dedup matches digit/punct-blind, keeps raw text") {
    val d = docsDF(Seq(
      "page 1 of 10\nbody alpha",
      "page 2 of 10!!\nbody beta",
      "unrelated line\nbody gamma"))
    // raw matching: nothing dedups
    val raw = TextAnalysis.removeDupLines(d).orderBy("doc_id").collect()
    assert(raw.forall(r => r.getLong(1) == r.getLong(2)))
    // normalized: both page lines share the key 'page of'; doc0 keeps
    // its RAW line, doc1 loses its (differently-rendered) copy
    val n = TextAnalysis.removeDupLines(d, normalized = true)
      .orderBy("doc_id").collect()
    assert(n(0).getString(3) == "page 1 of 10\nbody alpha")
    assert(n(1).getString(3) == "body beta")
    assert(n(2).getString(3) == "unrelated line\nbody gamma")
    // a digit/punct-ONLY line normalizes to '' and must never dedup
    val d2 = docsDF(Seq("123!!\nx one", "456??\nx two"))
    val n2 = TextAnalysis.removeDupLines(d2, normalized = true)
      .orderBy("doc_id").collect()
    assert(n2.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("url filter extracts domains and flags the blocklist") {
    val d = docsDF(Seq(
      "see https://bad.example.com/x and https://ok.example.org/y",
      "plain text, no links"))
    val r = TextAnalysis.urlFilter(d, Seq("bad.example.com"))
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 2L && r(0).getBoolean(3))
    assert(r(0).getString(2) == "bad.example.com,ok.example.org")
    assert(r(1).getLong(1) == 0L && !r(1).getBoolean(3) && r(1).getString(2) == "")
  }

  test("html extract strips tags, unescapes entities, measures link density") {
    val d = docsDF(Seq(
      "<div><a href=\"/a\">home</a> <a href=\"/b\">about us</a></div>",
      "<p>a &amp; b &lt;c&gt;</p><!-- note -->",
      "tag free text is its own fixed point"))
    val r = TextAnalysis.htmlTextStats(d).orderBy("doc_id").collect()
    assert(r(0).getString(1) == "home about us")
    assert(r(0).getLong(3) == 2L && r(0).getLong(4) == 12L)
    // 12 link chars over 13 clean chars on the 1e-4 floor grid
    assert(r(0).getDouble(5) == 0.9230)
    assert(r(1).getString(1) == "a & b <c>")
    assert(r(1).getLong(3) == 0L && r(1).getDouble(5) == 0.0)
    assert(r(2).getString(1) == "tag free text is its own fixed point")
  }

  test("unigram viterbi: min-cost segmentation, pinned tie-break, oov null") {
    import spark.implicits._
    val vocab = Seq("a" -> 10L, "d" -> 10L, "t" -> 10L, "j" -> 10L,
      "o" -> 10L, "i" -> 10L, "n" -> 10L, "da" -> 14L, "ta" -> 14L,
      "dat" -> 18L, "join" -> 24L, "jo" -> 13L, "in" -> 14L)
    val words = Seq("data", "join", "jot", "x", "ad").toDF("word")
    val r = words.select(col("word"),
        graft.functions.UnigramTokenizer.unigram_segment(col("word"), vocab, 12)
          .as("s"))
      .collect().map(x => x.getString(0) ->
        (if (x.isNullAt(1)) null else x.getStruct(1))).toMap
    // "data": da|ta (28) ties dat|a (28); 'dat|a' < 'da|ta' in binary
    // order ('t' 0x74 < '|' 0x7C) — the pinned stage tie-break
    assert(r("data").getString(2) == "dat|a" && r("data").getLong(1) == 28L)
    // "join": whole piece (24) beats jo|in (27) and singles (40)
    assert(r("join").getString(2) == "join" && r("join").getLong(1) == 24L)
    assert(r("jot").getString(2) == "jo|t" && r("jot").getLong(1) == 23L)
    // no piece covers 'x' → OOV null
    assert(r("x") == null)
    assert(r("ad").getString(2) == "a|d" && r("ad").getLong(0) == 2L)
    // words past maxLen are OOV by contract (the oracle unrolls maxLen)
    val long = Seq("dadadadadadada").toDF("word")
      .select(graft.functions.UnigramTokenizer.unigram_segment(
        col("word"), vocab, 12).as("s")).collect()
    assert(long.head.isNullAt(0))
    // doc-level stats: oov word excluded from sums, counted separately
    val docs = Seq((1L, "data join xq")).toDF("doc_id", "text")
    val st = graft.text.TextAnalysis.unigramStats(docs, vocab).collect().head
    assert((st.getLong(1), st.getLong(2), st.getLong(3), st.getLong(4)) ==
      ((3L, 1L, 3L, 52L)))  // data=2 pieces/28 + join=1/24; xq oov
  }

  test("unigram viterbi-em training: hand-computed costs, fixed point") {
    import spark.implicits._
    val vocab = Seq("d" -> 10L, "a" -> 10L, "t" -> 10L, "j" -> 10L,
      "o" -> 10L, "i" -> 10L, "n" -> 10L, "da" -> 14L, "ta" -> 14L,
      "dat" -> 18L, "join" -> 24L, "jo" -> 13L, "in" -> 14L)
    val d = Seq((1L, "data data join"), (2L, "data")).toDF("doc_id", "text")
    // round 1: data → dat|a (the pinned tie), join → join; counts
    // dat:3 a:3 join:1, total 7 (bitlen 3) → dat/a = 10+4·(3−2) = 14,
    // join = 10+4·(3−1) = 18, unseen = 10+4·4 = 26. Round 2 under
    // those costs re-derives the SAME segmentations → fixed point.
    val r = graft.text.TextAnalysis.unigramTrainCosts(d, vocab, 2)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("dat") == ((3L, 14L)) && r("a") == ((3L, 14L)), r)
    assert(r("join") == ((1L, 18L)), r)
    assert(r("da") == ((0L, 26L)) && r("jo") == ((0L, 26L)), r)
    // determinism: a third round changes nothing (hard-EM fixed point)
    val r3 = graft.text.TextAnalysis.unigramTrainCosts(d, vocab, 3)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r3 == r)
  }

  test("unigram prune: below-threshold pieces drop, words re-segment") {
    import spark.implicits._
    val vocab = Seq("d" -> 10L, "a" -> 10L, "t" -> 10L, "j" -> 10L,
      "o" -> 10L, "i" -> 10L, "n" -> 10L, "da" -> 14L, "ta" -> 14L,
      "dat" -> 18L, "join" -> 24L, "jo" -> 13L, "in" -> 14L)
    val d = Seq((1L, "data data join"), (2L, "data")).toDF("doc_id", "text")
    // after 2 EM rounds: dat:3 a:3 join:1 (see the EM spec). Prune at
    // minCount=2: 'join' (1 < 2) and all never-used multi-char pieces
    // drop; singles survive regardless of count.
    val r = graft.text.TextAnalysis.unigramTrainPruned(d, vocab, 2, 2L)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.keySet == Set("d", "a", "t", "j", "o", "i", "n", "dat"))
    // round 3 under the pruned set: 'join' re-segments as j|o|i|n, so
    // counts are dat:3 a:3 j,o,i,n:1 (total 10, bitlen 4) — costs
    // dat/a = 10+4·2 = 18, used singles = 10+4·3 = 22, unused = 30
    assert(r("dat") == ((3L, 18L)) && r("a") == ((3L, 18L)))
    assert(r("j") == ((1L, 22L)) && r("o") == ((1L, 22L)) &&
      r("i") == ((1L, 22L)) && r("n") == ((1L, 22L)))
    assert(r("d") == ((0L, 30L)) && r("t") == ((0L, 30L)))
  }

  test("wordpiece greedy: longest-first, restart, unk trap, doc stats") {
    import spark.implicits._
    val vocab = SparkEntry.wordpieceVocab
    def seg(w: String): (Long, Boolean, String) = {
      val r = Seq(w).toDF("word")
        .select(graft.functions.WordPieceTokenizer.wordpiece_segment(
          col("word"), vocab, 12).as("s"))
        .collect().head.getStruct(0)
      (r.getLong(0), r.getBoolean(1), r.getString(2))
    }
    // longest INITIAL: "bat" (3) beats "ba" (2), then "##ch"
    assert(seg("batch") == ((2L, false, "bat|##ch")))
    // longest CONTINUATION: "##ream" beats "##re" after "st"
    assert(seg("stream") == ((2L, false, "st|##ream")))
    // multi-restart: three pieces
    assert(seg("customer") == ((3L, false, "cu|##st|##omer")))
    // whole-word piece
    assert(seg("spark") == ((1L, false, "spark")))
    // the NO-BACKTRACK trap: greedy takes "wind" (4 > "win") into a
    // dead end and must [UNK] even though win|##dow covers the word
    assert(seg("window") == ((1L, true, "[UNK]")))
    // plainly uncoverable tail
    assert(seg("sort") == ((1L, true, "[UNK]")))
    // non-ASCII and past-maxLen words are [UNK] by contract (total,
    // never null — BERT emits the [UNK] token for them)
    assert(seg("café") == ((1L, true, "[UNK]")))
    assert(seg("sparksparkspark") == ((1L, true, "[UNK]")))
    // doc stats: [UNK] words count one piece each
    val d = Seq((1L, "batch window spark sort")).toDF("doc_id", "text")
    val st = graft.text.TextAnalysis.wordpieceStats(d, vocab).collect().head
    assert((st.getLong(1), st.getLong(2), st.getLong(3)) == ((4L, 2L, 5L)))
  }

  test("waterfill mix: capped prefix, shared waterline, hand-computed") {
    import spark.implicits._
    def doc(src: String, n: Int, id: Long) =
      (id, Seq.fill(n)("w").mkString(" "), "en", src, n.toLong)
    val d = Seq(doc("A", 100, 1), doc("B", 100, 2), doc("C", 100, 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // caps 1.0 / 2.0 / 4.0 epochs, budget 500 over 300 tokens:
    // A caps (λ_A = 500/300 ≈ 1.67 ≥ 1.0 → 100), B caps (λ_B =
    // 400/200 = 2.0 ≥ 2.0 → 200), C rides the waterline 2.0 → 200
    val r = graft.pipeline.Pipeline.waterfillMix(d, 500L,
        Map("A" -> 10000L, "B" -> 20000L, "C" -> 40000L), 30000L)
      .collect().map(x => x.getString(0) -> (x.getLong(3), x.getLong(4))).toMap
    assert(r("A") == ((100L, 10000L)))
    assert(r("B") == ((200L, 20000L)))
    assert(r("C") == ((200L, 20000L)))
    // tiny budget: nobody caps, everyone shares λ = 90/300 = 0.3
    val r2 = graft.pipeline.Pipeline.waterfillMix(d, 90L,
        Map("A" -> 10000L), 30000L)
      .collect().map(x => x.getString(0) -> x.getLong(4)).toMap
    assert(r2 == Map("A" -> 3000L, "B" -> 3000L, "C" -> 3000L))
    // huge budget: everyone caps at their own ceiling
    val r3 = graft.pipeline.Pipeline.waterfillMix(d, 100000L,
        Map("A" -> 10000L, "B" -> 20000L, "C" -> 40000L), 30000L)
      .collect().map(x => x.getString(0) -> x.getLong(4)).toMap
    assert(r3 == Map("A" -> 10000L, "B" -> 20000L, "C" -> 40000L))
  }

  test("KMV signatures: shard merges are exact in any order (storable state)") {
    import org.apache.spark.sql.functions._
    val d = graft.engine.Tables.documents(spark, sf)
    def sig(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, Seq[Long]] = {
      val tok = df.select(col("source"),
        explode(graft.text.TextAnalysis.tokenGramHashes(lower(col("text")), 3)).as("h"))
      graft.functions.Kmv.kmvPerStrKey(tok, "source", "h", k)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    }
    val k = 8 // small k: every shard genuinely truncates
    val full = sig(d, k)
    // disjoint shards by doc_id mod 3, folded in two different orders
    val shards = (0 to 2).map(i => d.filter(pmod(col("doc_id"), lit(3L)) === i))
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      (a ++ b).distinct.sorted.take(k)
    def fold(order: Seq[Int]): Map[String, Seq[Long]] =
      order.map(i => sig(shards(i), k)).reduce { (m1, m2) =>
        (m1.keySet ++ m2.keySet).map { s =>
          s -> merge(m1.getOrElse(s, Nil), m2.getOrElse(s, Nil))
        }.toMap
      }
    assert(fold(Seq(0, 1, 2)) == full)
    assert(fold(Seq(2, 0, 1)) == full)
    // signatures are genuinely truncated (the sketch is doing work)
    assert(full.values.forall(_.length == k))
  }

  test("perceptron trainer: hand-computed updates, converges on separable data") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 3 rows, feature = mk, label = sign(mk - 0.5): separable by w·x =
    // -1 + 2·mk. Epoch 1 (w = [0,0], every margin 0 ≤ 0 → all update):
    // g = Σ y·[1, mk] = (+1·[1,1]) + (+1·[1,2]) + (−1·[1,0]) = [1, 3]
    // Epoch 2 (w = [1,3]): mk=0 row scores 1 > 0 → wrong (y=−1, m=−1≤0)
    // → g = [−1, 0] → w = [0, 3]; mk=0 row now scores 0 → m=0 → update
    // again → w = [−1, 3]: all correct, epoch 4 is a no-op.
    val d = Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 0L, -1L))
      .toDF("doc_id", "mk", "y")
    val out = graft.pipeline.Pipeline.perceptronTrainServe(
        d, col("doc_id"), col("y"), Seq(col("mk")), epochs = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1)
    // final w = [−1, 3]: scores = 2, 5, −1
    assert(out.toSeq == Seq((1L, 2L, 1, 1), (2L, 5L, 1, 1), (3L, -1L, -1, -1)), out.toSeq)
  }

  test("curriculum order: stage-major permutation, shuffled within stage") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = (1L to 60L).map(i => (i, if (i <= 20) 0 else if (i <= 45) 1 else 2))
      .toDF("doc_id", "st")
    val rows = graft.pipeline.Pipeline.curriculumOrder(d, col("doc_id"), col("st"))
      .select(col("doc_id"), col("stage"), col("curriculum_rank"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // ranks are exactly 1..n (a permutation)
    assert(rows.map(_._3).sorted.toSeq == (1 to 60).toSeq)
    // stage-major: every stage-0 rank < every stage-1 rank < stage-2
    val byStage = rows.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    assert(byStage(0).max < byStage(1).min && byStage(1).max < byStage(2).min)
    // within a stage the order is the key hash, not the key: stage 0's
    // rank sequence must not be sorted by doc_id (hash-shuffled)
    val s0 = rows.filter(_._2 == 0).sortBy(_._1).map(_._3).toSeq
    assert(s0 != s0.sorted, s"stage 0 not shuffled: $s0")
    // bucket-count invariance: 4 buckets give the identical order
    val rows4 = graft.pipeline.Pipeline
      .curriculumOrder(d, col("doc_id"), col("st"), nBuckets = 4)
      .select(col("doc_id"), col("stage"), col("curriculum_rank"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(rows4.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
  }

  test("length batches: bounded size, exact padding economics") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = (1L to 100L).map(i => (i, 5L + (i % 37))).toDF("doc_id", "n")
    val b = graft.pipeline.Pipeline
      .lengthBatches(d, col("doc_id"), col("n"), 10L, 4, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // every sequence lands in exactly one batch
    assert(b.map(_._4).sum == 100L)
    b.foreach { case (bin, _, _, nSeqs, maxT, sumT, pad) =>
      assert(nSeqs >= 1 && nSeqs <= 4)
      // the bin really bounds its members' lengths
      assert(maxT >= bin * 10 && maxT < (bin + 1) * 10, (bin, maxT))
      assert(pad == nSeqs * maxT - sumT && pad >= 0)
      // padding within a 10-wide bin over ≤4 seqs is < 4×10
      assert(pad < 40, (bin, pad))
    }
    // batch ids are dense per (bin, shard): 0..max with no gaps
    b.groupBy(x => (x._1, x._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
  }

  test("decontam overlap: fraction on the grid, theta separates copies") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c d e f"),      // grams: 4; shares "a b c" with eval → 1/4
      (2L, "x y z w"),          // 2 grams, zero overlap
      (3L, "a b c d q r")).toDF("doc_id", "text") // near-copy head: 2/4
    val eval = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val r = graft.text.TextAnalysis
      .contaminationOverlap(train, eval, 3, 5000L)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4))).toMap
    assert(r(1L) == ((4L, 2L, 0.5, true)))  // "a b c","b c d" shared
    assert(r(2L) == ((2L, 0L, 0.0, false)))
    assert(r(3L) == ((4L, 2L, 0.5, true)))
    // too-short docs have no grams and drop out
    assert(!graft.text.TextAnalysis.contaminationOverlap(
      Seq((9L, "a b")).toDF("doc_id", "text"), eval, 3, 5000L)
      .collect().map(_.getLong(0)).contains(9L))
  }

  test("word-boundary blocklist: whole tokens only, zero-hit terms kept") {
    import spark.implicits._
    val d = Seq((1L, "slow scan low tide"), (2L, "the class was slow"))
      .toDF("doc_id", "text")
    val r = graft.text.TextAnalysis
      .blocklistWordStats(d, Seq("low", "can", "slow", "ass", "qqq"))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    // substring scans would hit low⊂slow, can⊂scan, ass⊂class — the
    // word scan must not
    assert(r("low") == ((1L, 1L)))   // only the standalone token
    assert(r("can") == ((0L, 0L)))
    assert(r("ass") == ((0L, 0L)))
    assert(r("slow") == ((2L, 2L)))
    assert(r("qqq") == ((0L, 0L)))   // zero-hit term stays in output
    // phrases are rejected at the API boundary
    intercept[IllegalArgumentException] {
      graft.text.TextAnalysis.blocklistWordStats(d, Seq("slow join"))
    }
  }

  test("gopher line rules: bullet and ellipsis thresholds on the grid") {
    import spark.implicits._
    val d = Seq(
      (1L, "- a\n- b\n* c\nplain"),                      // 75% bullets
      (2L, (1 to 10).map(i => s"- $i").mkString("\n")),  // 100% bullets
      (3L, "x...\ny...\nz"),                             // 66.6% ellipsis
      (4L, "a\nb\nc...\nd"),                             // 25% ellipsis
      (5L, "single plain line")).toDF("doc_id", "text")
    val r = graft.text.TextAnalysis.gopherLineRules(d)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getBoolean(4))).toMap
    assert(r(1L) == ((4L, 0.75, 0.0, true)))
    assert(r(2L) == ((10L, 1.0, 0.0, false)))
    assert(r(3L) == ((3L, 0.0, 0.6666, false)))
    assert(r(4L) == ((4L, 0.0, 0.25, true)))
    assert(r(5L) == ((1L, 0.0, 0.0, true)))
  }

  test("lm count state: any-order shard fold equals batch training") {
    import spark.implicits._
    val d = Seq((1L, "a b c a b"), (2L, "b c d"), (3L, "a b x y"))
      .toDF("doc_id", "text")
    val batch = graft.text.TextAnalysis.bigramModel(d)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val shards = (0 to 2).map(i => graft.text.TextAnalysis
      .bigramCountState(d.filter(pmod(col("doc_id"), lit(3)) === i)))
    // two different fold orders, both equal the batch model
    for (order <- Seq(Seq(2, 0, 1), Seq(1, 2, 0))) {
      val got = graft.text.TextAnalysis
        .bigramModelFromStates(order.map(shards))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch)
    }
    assert(batch(("a", "b")) == 0L) // c1(a)=3, c2(a,b)=3 → bitlen diff 0
  }

  test("url canonicalization: case, ports, tracking params, slashes") {
    import spark.implicits._
    def canon(u: String): String = Seq(u).toDF("u")
      .select(graft.text.TextAnalysis.canonicalizeUrl(col("u")))
      .collect().head.getString(0)
    assert(canon("HTTPS://Example.COM:443/Article/?utm_source=x&utm_campaign=y#frag")
      == "https://example.com/Article")
    assert(canon("http://News.Site.org:80/a/b/?gclid=123")
      == "http://news.site.org/a/b")
    // kept params stay in order; paths stay case-sensitive
    assert(canon("https://example.com/Article?id=7&utm_medium=z&fbclid=q")
      == "https://example.com/Article?id=7")
    assert(canon("https://a.com/X/Y?b=1&a=2") == "https://a.com/X/Y?b=1&a=2")
    // :8080 is NOT a default port; bare host with slash normalizes
    assert(canon("http://a.com:8080/p") == "http://a.com:8080/p")
    assert(canon("http://A.com/") == "http://a.com")
    val dd = graft.text.TextAnalysis.urlDedup(Seq(
      (1L, "x https://example.com/Article/ y"),
      (2L, "x HTTPS://EXAMPLE.com:443/Article z")).toDF("doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(dd.toSeq == Seq(("https://example.com/Article", 2L, 2L)))
  }

  test("source cap: bounded top-k per source, grid score, id ties") {
    import spark.implicits._
    // source A: four docs with distinct quality (longer = higher score
    // up to the cap), B: two docs tying on score → doc_id breaks
    val d = Seq(
      (1L, "the a of and one two three four", "A"),
      (2L, "the a of", "A"),
      (3L, "word", "A"),
      (4L, "the a of and one two three four five six", "A"),
      (10L, "same text here", "B"),
      (11L, "same text here", "B")).map { case (id, t, s) =>
      (id, t, "en", s, t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.text.TextAnalysis.sourceCap(d, 2).collect()
      .map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSet
    val a = graft.text.TextAnalysis.quality(d)
      .collect().map(x => x.getLong(0) -> x.getDouble(4)).toMap
    // A keeps its two highest-quality ids; B's tie resolves to lower ids
    val aTop = Seq(1L, 2L, 3L, 4L).sortBy(id => (-a(id), id)).take(2)
    assert(r == Set(("A", 1, aTop(0)), ("A", 2, aTop(1)),
      ("B", 1, 10L), ("B", 2, 11L)))
  }

  test("wordpiece trainer: likelihood argmax, ## carried, train→serve") {
    import spark.implicits._
    // words: aab×2 → [a,##a,##b], ab → [a,##b], b → [b]
    // step 1: (a,##a) and (##a,##b) tie on surrogate score AND pair
    // count (2) — unsigned-UTF-8 pair order picks (##a,##b) ('#'<'a');
    // step 2: (a,##ab) beats (a,##b) on count at equal score;
    // step 3: only (a,##b) remains; then the pair map is empty
    val d = Seq((1L, "aab aab ab b")).toDF("doc_id", "text")
    val m = graft.text.BpeTrainer.trainWordpieceMerges(d, 4)
    assert(m == Seq("##a" -> "##b", "a" -> "##ab", "a" -> "##b"))
    // merged text strips the right marker
    val mf = graft.text.BpeTrainer.wordpieceMergesFrame(spark, m)
      .collect().map(r => r.getString(3)).toSeq
    assert(mf == Seq("##ab", "aab", "ab"))
    // the learned pieces serve directly: aab and ab are whole pieces,
    // bare b touches no learned INITIAL piece → [UNK]
    val vocab = graft.text.BpeTrainer.wordpieceVocabFromMerges(m)
    assert(vocab.toSet == Set("##a", "##b", "##ab", "a", "aab", "ab"))
    val st = graft.text.TextAnalysis.wordpieceStats(d, vocab).collect().head
    assert((st.getLong(1), st.getLong(2), st.getLong(3)) == ((4L, 1L, 4L)))
  }

  test("trigram stupid-backoff: levels and integer surrogates, hand-checked") {
    import spark.implicits._
    // train: uni a:2 b:2 c:1 d:1 (N=6, bitlen 3); big (a,b):2 (b,c):1
    // (c,a):1 (b,d):1; tri (a,b,c) (b,c,a) (c,a,b) (a,b,d) each once
    val train = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val serve = Seq((10L, "a b c"), (20L, "d a b"), (30L, "a c d"),
      (40L, "a b z"), (50L, "a b c a")).toDF("doc_id", "text")
    val r = graft.text.TextAnalysis.trigramBackoff(train, serve)
      .collect().map(x => x.getLong(0) -> x).toMap
    def row(id: Long) = { val x = r(id)
      (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
        x.getLong(5), x.getLong(6)) }
    // (a,b,c) level 3: bitlen(2) − bitlen(1) = 1
    assert(row(10L) == ((1L, 1L, 0L, 0L, 0L, 1L)))
    // (d,a,b) level 2 via (a,b): 2 + bitlen(c1(a)=2) − bitlen(c2=2) = 2
    assert(row(20L) == ((1L, 0L, 1L, 0L, 0L, 2L)))
    // (a,c,d) level 1 via d: 4 + 3 − bitlen(1) = 6
    assert(row(30L) == ((1L, 0L, 0L, 1L, 0L, 6L)))
    // (a,b,z): z unseen → OOV constant 4 + 3 + 1 = 8
    assert(row(40L) == ((1L, 0L, 0L, 0L, 1L, 8L)))
    // two level-3 hits, mean on the 1e-4 grid
    assert(row(50L) == ((2L, 2L, 0L, 0L, 0L, 1L)))
    assert(r(50L).getDouble(7) == 0.5)
    // docs under 3 words emit nothing on either engine
    assert(graft.text.TextAnalysis.trigramBackoff(train,
      Seq((60L, "a b")).toDF("doc_id", "text")).collect().isEmpty)
  }

  test("pii stats: luhn separates real cards from digit runs") {
    val d = docsDF(Seq(
      "contact user@example.com or call 555-867-5309 now",
      "card 4111111111111111 works but 4111111111111112 fails",
      "server at 10.0.0.1 and order 1234567890123 id",
      "nothing sensitive here"))
    val r = graft.text.TextAnalysis.piiStats(d).orderBy("doc_id").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
    assert(r(0) == ((1L, 1L, 0L, 0L, 0L)), r(0))   // email + phone
    assert(r(1) == ((0L, 0L, 0L, 2L, 1L)), r(1))   // 2 runs, ONE luhn-valid
    assert(r(2) == ((0L, 0L, 1L, 1L, 0L)), r(2))   // ip; invalid 13-digit run
    assert(r(3) == ((0L, 0L, 0L, 0L, 0L)), r(3))
  }

  test("domain rank: edge dedup, hub outranks island, dangling keeps teleport base") {
    import spark.implicits._
    val d = Seq(
      // duplicate in-text link and a second doc from the same site:
      // both collapse into ONE alpha.site → hub.site edge
      (1L, "x https://hub.site/a y https://hub.site/b z", "en", "alpha.site", 1L),
      (2L, "more https://hub.site/c text", "en", "alpha.site", 1L),
      (3L, "link https://hub.site/d here", "en", "beta.site", 1L),
      (4L, "only https://spam.farm/z link", "en", "delta.site", 1L),
      (5L, "back https://alpha.site/e edge", "en", "hub.site", 1L),
      (6L, "no links at all", "en", "lonely.site", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val edges = graft.graph.LinkGraph.domainEdges(d)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(edges == Set("alpha.site" -> "hub.site", "beta.site" -> "hub.site",
      "delta.site" -> "spam.farm", "hub.site" -> "alpha.site"))
    val r = graft.graph.LinkGraph.domainRank(d, 4)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // hub receives two full 85% shares; spam.farm only delta's one
    assert(r("hub.site") > r("spam.farm"), r)
    // dangling never-linked site sits exactly at the teleport base
    assert(r("lonely.site") == 150000L, r)
    // alpha is fed by the hub's single outlink: base + 85% of hub
    assert(r("alpha.site") > r("spam.farm"), r)
    // hand-checked iteration 1: hub = base + 850k//1 (alpha) + 850k//1
    // (beta) — outdegree 1 each after dedup
    val r1 = graft.graph.LinkGraph.domainRank(d, 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1("hub.site") == 150000L + 850000L + 850000L, r1)
    assert(r1("spam.farm") == 150000L + 850000L, r1)
  }

  test("HITS: hub and authority roles separate, max-normalized, " +
      "hand-checked round") {
    import spark.implicits._
    val d = Seq(
      // alpha links to BOTH targets (the directory/portal hub);
      // beta and gamma each link only to hub.site
      (1L, "a https://hub.site/x b https://side.site/y c", "en", "alpha.site", 1L),
      (2L, "see https://hub.site/z", "en", "beta.site", 1L),
      (3L, "see https://hub.site/w", "en", "gamma.site", 1L),
      (4L, "no links here", "en", "lonely.site", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.graph.LinkGraph.hits(d, 1)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .map(x => x._1 -> (x._2, x._3)).toMap
    // round 1 authorities from uniform hubs: raw(hub.site) = 3e6 (max),
    // raw(side.site) = 1e6 → a = 333333; sources/lonely get 0
    assert(r("hub.site")._2 == 1000000L, r)
    assert(r("side.site")._2 == 333333L, r)
    assert(r("lonely.site")._2 == 0L && r("alpha.site")._2 == 0L, r)
    // round 1 hubs from those authorities: raw(alpha) = 1e6 + 333333
    // (max), raw(beta) = raw(gamma) = 1e6 → (1e6·1e6)//1333333 = 750000
    assert(r("alpha.site")._1 == 1000000L, r)
    assert(r("beta.site")._1 == 750000L && r("gamma.site")._1 == 750000L, r)
    // targets emit nothing: hub score 0
    assert(r("hub.site")._1 == 0L && r("side.site")._1 == 0L, r)
    // the roles genuinely separate: the best hub is a zero authority
    // and the best authority is a zero hub (PageRank cannot show this)
  }

  test("filter funnel: monotone stage counts, each stage cuts the right docs") {
    import spark.implicits._
    val good = "the quick value of spark and merge join runs fine today"
    val d = Seq(
      (1L, good, "en"),                       // survives everything
      (2L, good, "en"),                       // exact dup of 1 → cut at dedup
      (3L, good, "fr"),                       // cut at language
      (4L, "tiny doc", "en"),                 // cut at quality (word count)
      (5L, good + " badterm here", "en"))     // cut at blocklist
      .toDF("doc_id", "text", "lang")
    val r = graft.text.TextAnalysis.filterFunnel(d, "en",
        Seq("the", "of", "and"), Seq("badterm"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("0_ingested" -> 5L, "1_quality" -> 4L,
      "2_language" -> 3L, "3_blocklist" -> 2L, "4_dedup" -> 1L), r)
  }

  test("dup spans: maximal cross-doc runs with exact token offsets, per-doc coordinates") {
    val d = docsDF(Seq(
      "p1 p2 a b c d e f g h t1 t2 t3",  // doc0: shared 8-run at tokens 3..10
      "q1 a b c d e f g h q2 q3",        // doc1: same run at tokens 2..9
      "no overlap with anything here at all okay",  // doc2: clean
      "x1 u v w x y z x2 x3 m n o p q",  // doc3: shares 6-run @2..7 AND 5-run @10..14
      "u v w x y z k1 k2 k3 k4 m n o p q", // doc4: the runs @1..6 and @11..15
      "r r r r r r r r"))                // doc5: self-repetition ONLY → cross-doc clean
    val r = graft.text.TextAnalysis.dupSpans(d, 5)
      .orderBy("doc_id", "span_start").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4)))
    // docs 2 and 5 produce NO rows (within-doc repetition is not
    // cross-doc duplication); every other span is maximal and exact
    assert(r.toSeq == Seq(
      (0L, 3L, 10L, 8L, "a b c d e f g h"),
      (1L, 2L, 9L, 8L, "a b c d e f g h"),
      (3L, 2L, 7L, 6L, "u v w x y z"),
      (3L, 10L, 14L, 5L, "m n o p q"),
      (4L, 1L, 6L, 6L, "u v w x y z"),
      (4L, 11L, 15L, 5L, "m n o p q")))
    // a run of exactly L ≥ w duplicated tokens surfaces as ONE span of
    // exactly L tokens: adjacent windows merged, boundaries not inflated
    assert(r.count(_._1 == 3L) == 2, "two disjoint runs stay two spans")
  }

  test("dup spans: touching runs coalesce and sub-w sharing is invisible") {
    val d = docsDF(Seq(
      "a b c d e f g h i j",   // doc0
      "a b c d e z g h i j k", // doc1: shares 5-run @1..5 and 4-run (sub-w, invisible)
      "f g h i j m n o p"))    // doc2: shares doc0's tail 5-run
    val r = graft.text.TextAnalysis.dupSpans(d, 5)
      .orderBy("doc_id", "span_start").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(4)))
    // doc0's two 5-runs [1..5] and [6..10] both duplicated; they touch
    // (window starts 1 and 6 with w=5 ⇒ 6 ≤ 1+5) so they merge into ONE
    // contiguous duplicated region — maximality over different partners
    assert(r.toSeq == Seq(
      (0L, 1L, 10L, "a b c d e f g h i j"),
      (1L, 1L, 5L, "a b c d e"),
      (2L, 1L, 5L, "f g h i j")))
  }

  test("dup spans maximal: long duplicates certify at 4w, chimeras at 0") {
    val longRun = (1 to 25).map(i => s"L$i").mkString(" ")
    val d = docsDF(Seq(
      s"pre1 $longRun post1",     // doc0: 25-token verbatim run with doc1
      s"$longRun tail1 tail2",    // doc1
      "a b c d e f g h i j",      // doc2: CHIMERA — [1..5] from doc3,
      "a b c d e z1 z2 z3 z4 z5", //   [6..10] from doc4, no long partner
      "y1 y2 y3 y4 f g h i j"))   // doc4
    val r = graft.text.TextAnalysis.dupSpansMaximal(d, 5)
      .orderBy("doc_id", "span_start").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    // doc0/doc1: every 5/10/20-window inside the merged span is a
    // subgram of the shared 25-run → dense at ALL tiers → certified 20.
    // doc2's merged [1,10] comes from starts {1, 6} only (2..5 are not
    // duplicated) — not even base-tier dense → certified 0: the
    // chimera the fixed-w miner could not distinguish from a true
    // 10-token duplicate. Single-window spans certify at w.
    assert(r.toSeq == Seq(
      (0L, 2L, 26L, 25L, 20L),
      (1L, 1L, 25L, 25L, 20L),
      (2L, 1L, 10L, 10L, 0L),
      (3L, 1L, 5L, 5L, 5L),
      (4L, 5L, 9L, 5L, 5L)))
  }

  test("memorization risk: planted duplicate run raises dup_share, clean docs zero") {
    val d = docsDF(Seq(
      "a b c d e f g h i j",      // doc0: shares the full 10-run with doc1
      "a b c d e f g h i j",      // doc1
      "u v w x y z q r s t"))     // doc2: clean
    val r = graft.text.TextAnalysis.memorizationRisk(d, 5)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    // docs 0/1: every one of the 6 windows duplicated (df 2) → share 1
    assert(r.toSeq == Seq(
      (0L, 6L, 6L, 2L, 1.0), (1L, 6L, 6L, 2L, 1.0),
      (2L, 6L, 0L, 1L, 0.0)))
  }

  test("l-diversity: homogeneous class flagged even when k-anonymous") {
    val d = Seq(
      ("en", 100L, "srcA"), ("en", 100L, "srcA"), ("en", 100L, "srcA"),
      ("en", 200L, "srcA"), ("en", 200L, "srcB"),
      ("de", 100L, "srcC"))
      .toDF("lang", "n_chars", "source")
    val r = graft.security.KAnonymity
      .lDiversity(d, Seq(col("lang"), col("n_chars")), col("source"), 2L)
      .orderBy("lang", "n_chars").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getBoolean(4)))
    // (en,100): size 3 (k-anonymous at k=3) but ONE source → NOT l-diverse
    assert(r.toSeq == Seq(
      ("de", 100L, 1L, 1L, false),
      ("en", 100L, 3L, 1L, false),
      ("en", 200L, 2L, 2L, true)))
  }

  test("exact AUC: midrank ties hand-checked; perfect and inverted orderings") {
    def auc(rows: Seq[(Long, Int)]): (Long, Long, Long, Double) = {
      val r = graft.pipeline.Pipeline.aucExact(
        rows.toDF("score", "label"), col("label"), col("score")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    // scores 3,2,2,1 with labels +,+,-,-: the tied pair contributes a
    // half-win → AUC = 0.875 exactly (midrank 2.5 doubled stays integral)
    assert(auc(Seq((3L, 1), (2L, 1), (2L, -1), (1L, -1))) ==
      ((2L, 2L, 8750L, 0.875)))
    // perfect separation and full inversion
    assert(auc(Seq((5L, 1), (4L, 1), (1L, -1), (0L, -1)))._3 == 10000L)
    assert(auc(Seq((0L, 1), (1L, 1), (4L, -1), (5L, -1)))._3 == 0L)
    // all-ties: AUC 1/2
    assert(auc(Seq((7L, 1), (7L, -1), (7L, 1), (7L, -1)))._3 == 5000L)
  }

  test("t-closeness: skewed class flagged, EMD hand-checked on the 1e-4 grid") {
    val d = Seq(
      ("A", 1L), ("A", 1L),                       // class A: all sv=1
      ("B", 1L), ("B", 2L), ("B", 2L), ("B", 2L)) // class B: 1/4 vs 3/4
      .toDF("grp", "sv")
    val r = graft.security.KAnonymity
      .tCloseness(d, Seq(col("grp")), col("sv"), 3000L)
      .orderBy("grp").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    // global q = (1/2, 1/2). A: p = (1, 0) → EMD 0.5; B: p = (1/4, 3/4)
    // → EMD 0.25. Exact integers: A = 5000, B = 2500 on the 1e-4 grid.
    assert(r.toSeq == Seq(("A", 2L, 5000L, false), ("B", 4L, 2500L, true)))
  }

  test("doremi weights: zero-excess source keeps base weight, shares monotone in loss") {
    val r = graft.pipeline.Pipeline
      .doremiWeights(graft.engine.Tables.documents(spark, sf), 3, 10000L)
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.nonEmpty)
    val minLoss = r.map(_._2).min
    r.foreach { case (src, loss, excess, weight, _) =>
      assert(excess == loss - minLoss, src)
      if (excess == 0) assert(weight == 1000000L, src)
      else assert(weight > 1000000L, src)
    }
    // weights (and so shares) strictly monotone in excess
    val byExcess = r.sortBy(_._3)
    byExcess.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._3 && a._4 <= b._4)
      case _ => ()
    }
    // shares are a probability vector on the ppm grid (floor division
    // loses < #sources ppm)
    val ppm = r.map(_._5).sum
    assert(ppm <= 1000000L && ppm > 1000000L - r.length)
  }

  test("edit-distance dedup verifies shared-window candidates exactly") {
    val d = docsDF(Seq(
      "the quick brown fox jumps over the lazy dog today",
      "the quick brown fox jumps over the lazy cat today",
      "completely unrelated text with zero shared windows"))
    val r = Dedup.editDistancePairs(d, 5, 64).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 0L && r(0).getLong(1) == 1L)
    assert(r(0).getLong(2) == 3L) // dog → cat
    // band-limited verify: same candidates, threshold below the distance
    assert(Dedup.editDistancePairs(d, 5, 2).isEmpty)
  }

  test("edit-distance df-cut drops hot windows without losing true pairs") {
    // every doc carries the same 5-token tail → one fully-interior
    // window with df = 3 (the whole corpus)
    val salt = " zq0 zq1 zq2 zq3 zq4"
    val d = docsDF(Seq(
      "the quick brown fox jumps over the lazy dog today" + salt,
      "the quick brown fox jumps over the lazy cat today" + salt,
      "completely unrelated text with zero shared windows" + salt))
    // uncapped: the ubiquitous salt window makes EVERY pair a candidate,
    // and at maxDist=64 even the unrelated doc verifies within distance
    assert(Dedup.editDistancePairs(d, 5, 64).count() == 3)
    // cap 2 < df 3: the salt window is dropped in the postings
    // aggregation; the true near-dup pair survives via its rarer shared
    // windows, the hot-window-only pairs disappear
    val r = Dedup.editDistancePairs(d, 5, 64, 2).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 0L && r(0).getLong(1) == 1L && r(0).getLong(2) == 3L)
  }

  test("sentence filter keeps long sentences, drops short ones, reassembles") {
    val d = docsDF(Seq("this one is long enough. no. way too short. " +
      "here is another keeper sentence"))
    val out = d.select(TextAnalysis.sentenceFilter(col("text"), 4))
      .head.getString(0)
    assert(out == "this one is long enough. here is another keeper sentence")
  }

  test("binned range join matches the naive theta join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_shipdate"), col("l_quantity"))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_until"))
    val binned = graft.operators.RangeJoin.pointInIntervalTs(
        li, col("l_shipdate"), orders, col("o_orderdate"), col("o_until"),
        // bin width intentionally NOT the interval length: intervals
        // straddle bins, exercising the explode+residual-filter path
        3 * 86400L)
      .groupBy(col("o_orderkey")).count()
    val naive = li.join(orders,
        col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") < col("o_until"))
      .groupBy(col("o_orderkey")).count()
    assert(binned.count() == naive.count())
    assert(binned.except(naive).isEmpty && naive.except(binned).isEmpty)
  }

  test("range join bins exactly past 2^53 (nanos axis) and skips inverted intervals") {
    // pick an axis value beyond 2^53 whose exact bin multiple is NOT
    // double-representable: the old double-division binOf misbinned it
    // (flips when the quotient's ulp is below the numerator's rounding
    // error — i.e. small bin widths, like 1 µs bins on a nanos axis)
    val w = 1000L // 1µs in nanos
    val k = (0L to 5000L).map(_ + 1700000000000000L)
      .find(k => ((k * w).toDouble / w.toDouble).toLong != k)
      .getOrElse(fail("no witness value found"))
    val t = k * w // exactly on a bin boundary, ~1.7e18 > 2^53
    val pts = Seq((1L, t)).toDF("pid", "ts")
    val ivs = Seq(
      (10L, t, t + w),        // contains the point
      (11L, t + w, t),        // inverted: must produce nothing, not blow up
      (12L, t + w, t - 5 * w) // badly inverted (old code: huge desc sequence)
    ).toDF("iid", "lo", "hi")
    val got = graft.operators.RangeJoin
      .pointInInterval(pts, col("ts"), ivs, col("lo"), col("hi"), w)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L)), got.toSeq.toString)
  }

  test("corpus mix equals the naive single-window form (incl. edge budgets)") {
    import org.apache.spark.sql.expressions.Window
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    val budgets = Map("src0" -> 800L, "src1" -> 1L, "src2" -> 2000000L)
    val fast = graft.pipeline.Pipeline.corpusMix(
      docsDf, col("doc_id"), col("source"), col("n_toks"), budgets)
    // naive form: one window per source over its whole share
    val h = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val bud = element_at(
      map(budgets.toSeq.flatMap { case (s, b) => Seq(lit(s), lit(b)) }: _*),
      col("source"))
    val naive = docsDf.filter(bud.isNotNull)
      .withColumn("__cum", sum(col("n_toks")).over(
        Window.partitionBy(col("source"))
          .orderBy(h, col("doc_id").cast("string"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__cum") <= bud)
      .select((docsDf.columns.map(col) :+ col("__cum").as("cum_tokens")): _*)
    assert(fast.count() == naive.count())
    assert(fast.except(naive).isEmpty && naive.except(fast).isEmpty)
    // src1's budget (1 token) admits no document
    assert(fast.filter(col("source") === "src1").count() == 0)
  }

  test("temperature mix: rarest source kept whole, shares follow sqrt curve") {
    import spark.implicits._
    // three sources with 9:4:1 sizes — after the α=1/2 rule the kept
    // shares must follow √n (3:2:1), i.e. keep-rates √(n_ref/n_s)
    val docs = ((0 until 900).map(i => (i.toLong, "big")) ++
      (0 until 400).map(i => (1000L + i, "mid")) ++
      (0 until 100).map(i => (2000L + i, "small")))
      .toDF("doc_id", "source")
    val kept = graft.pipeline.Pipeline.temperatureMix(
        docs, col("doc_id"), col("source"))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the rarest source's cut is exactly the modulus → keeps ALL rows
    assert(kept("small") == 100L)
    // md5-hash thinning is binomial around n·rate: 5σ bands
    def band(n: Int, rate: Double): (Double, Double) = {
      val mu = n * rate; val sd = math.sqrt(n * rate * (1 - rate))
      (mu - 5 * sd, mu + 5 * sd)
    }
    val (bLo, bHi) = band(900, math.sqrt(100.0 / 900.0))
    assert(kept("big") >= bLo && kept("big") <= bHi, kept.toString)
    val (mLo, mHi) = band(400, math.sqrt(100.0 / 400.0))
    assert(kept("mid") >= mLo && kept("mid") <= mHi, kept.toString)
    // deterministic: a re-run keeps the identical set
    val again = graft.pipeline.Pipeline.temperatureMix(
        docs, col("doc_id"), col("source"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = graft.pipeline.Pipeline.temperatureMix(
        docs, col("doc_id"), col("source"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == first)
    // null sources thin by their own rate instead of vanishing
    val withNull = docs.withColumn("source",
      when(col("doc_id") < 50, lit(null).cast("string"))
        .otherwise(col("source")))
    val nullKept = graft.pipeline.Pipeline.temperatureMix(
        withNull, col("doc_id"), col("source"))
      .filter(col("source").isNull).count()
    assert(nullKept == 50L) // 50 rows = the rarest group → kept whole
    // WEIGHTED path: token-mass rebalance, and a source with rows but
    // ZERO total mass is dropped without poisoning the others' rates
    // (nref=0 would zero every cut; 0/0 would NaN its own)
    val weighted = ((0 until 90).map(i => (i.toLong, "big", 100L)) ++
      (0 until 10).map(i => (1000L + i, "small", 100L)) ++
      (0 until 5).map(i => (2000L + i, "empty", 0L)))
      .toDF("doc_id", "source", "toks")
    val wKept = graft.pipeline.Pipeline.temperatureMix(
        weighted, col("doc_id"), col("source"),
        weight = Some(col("toks")))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!wKept.contains("empty"), wKept.toString)
    assert(wKept("small") == 10L) // rarest by MASS → kept whole
    val (wLo, wHi) = band(90, math.sqrt(1000.0 / 9000.0))
    assert(wKept("big") >= wLo && wKept("big") <= wHi, wKept.toString)
  }

  test("unigram rarity: boilerplate scores higher magnitude than rare text") {
    import spark.implicits._
    val docs = (
      (0 until 20).map(i => (i.toLong, "the the the common words repeat")) :+
        (99L, "zxqv flurble wug")).toDF("doc_id", "text")
    val scores = graft.text.TextAnalysis.unigramRarity(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // every token of doc 99 occurs once (magnitude 1); the repeated
    // docs' tokens occur 20-60 times (magnitude 5-6)
    assert(scores(99L) == 1.0, scores.toString)
    assert(scores(0L) > 4.0, scores.toString)
  }

  test("logistic probe: converging loss, separable accuracy, correct signs") {
    import spark.implicits._
    import graft.pipeline.Pipeline.{scoreLogistic, trainLogisticProbe}
    // separable synthetic data with a margin: y = [f1 + 2 f2 > 6]
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 2000).map { i =>
      val f1 = rnd.nextDouble() * 6; val f2 = rnd.nextDouble() * 3
      val m = f1 + 2 * f2 - 6
      (i.toLong, f1, f2, if (m > 0.3) 1.0 else if (m < -0.3) 0.0
        else if (m > 0) 1.0 else 0.0)
    }
    val df = rows.toDF("id", "f1", "f2", "y")
    val (w, losses, m, sd) = trainLogisticProbe(
      df, col("y"), Seq(col("f1"), col("f2")), iters = 40, lr = 2.0)
    // loss converges (monotone within a tiny tolerance) and ends low
    losses.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"loss rose: $a -> $b") }
    assert(losses.last < 0.3, s"final loss ${losses.last}")
    // both standardized coefficients must be positive (y rises in both)
    assert(w(1) > 0 && w(2) > 0, w.toSeq.toString)
    // accuracy on the training set (separable ⇒ near-perfect)
    val acc = df.select(col("y"),
        (scoreLogistic(Seq(col("f1"), col("f2")), w, m, sd) >= 0.5)
          .cast("double").as("p"))
      .filter(col("y") === col("p")).count().toDouble / 2000
    assert(acc >= 0.97, s"accuracy $acc")
    // the declared corpus probe separates its planted labels
    val probe = graft.SparkEntry.queries("quality_probe_train")(spark, sf)
      .collect()
    val pAcc = probe.count(r => r.getLong(1) == r.getLong(2)).toDouble / probe.length
    assert(pAcc >= 0.9, s"corpus probe accuracy $pAcc")
    assert(probe.map(_.getLong(1)).distinct.length == 2, "both labels present")
  }

  test("salted join returns exactly the plain join's rows") {
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val dim = docsDf.groupBy(col("source")).agg(avg(col("n_chars")).as("src_avg"))
    val salted = graft.operators.Joins
      .saltedJoin(docsDf, dim, "source", col("doc_id"), 8)
      .select(col("doc_id"), col("src_avg"))
    val plain = docsDf.join(dim, "source").select(col("doc_id"), col("src_avg"))
    assert(salted.count() == plain.count()) // no row lost or duplicated
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("weighted sample is deterministic, sized, and weight-biased") {
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val s1 = graft.pipeline.Pipeline.weightedSample(docsDf, col("doc_id"),
      col("n_chars").cast("double"), 50)
    val s2 = graft.pipeline.Pipeline.weightedSample(docsDf, col("doc_id"),
      col("n_chars").cast("double"), 50)
    assert(s1.count() == 50)
    assert(s1.except(s2).isEmpty) // md5-derived u ⇒ reproducible
    // A-Res with weight=n_chars must oversample long docs
    val sampleAvg = s1.agg(avg(col("n_chars"))).head.getDouble(0)
    val corpusAvg = docsDf.agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampleAvg > corpusAvg,
      s"sample avg $sampleAvg should exceed corpus avg $corpusAvg")
  }

  test("funnel stage counts are monotone non-increasing") {
    val ev = graft.engine.Tables.events(spark, sf)
    val r = graft.streaming.Events.funnel(ev, Seq("view", "click", "purchase")).head
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p)
    assert(v > 0) // sf0.001 still has views
  }

  test("sketch blobs survive a parquet round-trip and a delta re-merge") {
    // the STORABLE contract end-to-end: per-source sketches of the
    // historical corpus written to parquet as ordinary binary cells,
    // read back cold, merged with a fresh delta's sketches — equal to
    // sketching the full corpus directly. No corpus rescan.
    import graft.functions.{HllSketch, KllSketch, MgSketch}
    val dd = graft.engine.Tables.documents(spark, sf)
    val hist = dd.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val delta = dd.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_store")
    hist.groupBy(col("source"))
      .agg(HllSketch.hll_build(col("text")).as("hll"),
        MgSketch.mg_build(col("lang"), 16).as("mg"),
        KllSketch.kll_build(col("n_chars").cast("double")).as("kll"))
      .write.mode("overwrite").parquet(dir.toString)
    val stored = spark.read.parquet(dir.toString)
    val deltaSk = delta.groupBy(col("source"))
      .agg(HllSketch.hll_build(col("text")).as("hll"),
        MgSketch.mg_build(col("lang"), 16).as("mg"),
        KllSketch.kll_build(col("n_chars").cast("double")).as("kll"))
    val merged = stored.select(col("hll"), col("mg"), col("kll"))
      .union(deltaSk.select(col("hll"), col("mg"), col("kll")))
      .agg(HllSketch.hll_merge(col("hll")).as("hll"),
        MgSketch.mg_merge(col("mg"), 16).as("mg"),
        KllSketch.kll_merge(col("kll")).as("kll"))
      .head
    // HLL: idempotent max-merge -> bit parity with the direct sketch
    val direct = dd.agg(HllSketch.hll_build(col("text")).as("hll"))
      .head.getAs[Array[Byte]]("hll")
    assert(merged.getAs[Array[Byte]]("hll").sameElements(direct),
      "parquet-stored HLL diverged from the direct sketch")
    // MG: guarantee-level parity — every heavy lang present
    val n = dd.count()
    val langs = graft.functions.MgSketch.deserialize(merged.getAs[Array[Byte]]("mg"))
    dd.groupBy(col("lang")).count().collect().foreach { r =>
      if (r.getLong(1) > n.toDouble / 17)
        assert(langs.contains(r.getString(0)), s"lost heavy lang ${r.getString(0)}")
    }
    // KLL: merged rank error within the gate at the median
    val kll = graft.functions.KllSketch.deserialize(merged.getAs[Array[Byte]]("kll"))
    assert(kll.n == n)
    val med = graft.functions.KllSketch.quantile(kll, 0.5)
    val vals = dd.select(col("n_chars").cast("double")).collect().map(_.getDouble(0)).sorted
    val lo = vals.count(_ < med).toDouble / n
    val hi = vals.count(_ <= med).toDouble / n
    assert(lo <= 0.53 && hi >= 0.47, s"median rank drifted: lo=$lo hi=$hi")
  }

  test("bm25 ranking matches an independent in-memory computation") {
    import spark.implicits._
    val rows = Seq(
      (1L, "spark join fast engine"), (2L, "merge slow merge slow merge"),
      (3L, "join join join spark"), (4L, "alpha beta gamma delta"),
      (5L, "spark"), (6L, "slow join merge spark slow pipeline"))
    val docs = rows.toDF("doc_id", "text")
    val terms = Seq("spark", "join", "merge", "slow")
    val got = TextAnalysis.bm25TopK(docs, terms, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent: plain-Scala BM25 with the same micro-quantization
    val toks = rows.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val nd = rows.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / nd
    val dfm = terms.map(t => t -> toks.values.count(_.contains(t))).toMap
    val scores = toks.flatMap { case (id, ws) =>
      val s = terms.map { t =>
        val tf = ws.count(_ == t)
        if (tf == 0) 0L
        else {
          val idf = math.log((nd - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
          val x = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * ws.size / avgdl))
          math.floor(x * 1e6).toLong
        }
      }.sum
      if (s > 0L) Some(id -> s) else None
    }
    val expect = scores.toSeq.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (i + 1L, id, s) }
    assert(got.toSeq == expect, s"got=${got.toSeq}\nexpect=$expect")
  }

  test("subword fertility: CJK falls to codepoint tokens (3 bytes each)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // every CJK char is a codepoint-fallback token under the default
    // vocab, so bytes/token = (2*3*2+1)/4 for two 2-char words
    val df = Seq((1L, "\u65e5\u672c \u8a9e\u8a00")).toDF("doc_id", "text")
    val r = df.select(octet_length(col("text")).as("b"),
      TextAnalysis.bpeTokenCount(col("text")).as("t")).head()
    assert(r.getAs[Number]("b").intValue == 13, r)
    assert(r.getAs[Number]("t").longValue == 4L, r)
  }

  test("bigram surprisal matches an independent in-memory LM") {
    val rows = Seq(
      (1L, "the quick fox jumps"), (2L, "the quick fox sleeps"),
      (3L, "the quick fox jumps high"), (4L, "zz yy xx"),
      (5L, "single"), (6L, "the  quick"))  // double space → one bigram
    val d = rows.toDF("doc_id", "text")
    val gotMap = TextAnalysis.bigramSurprisal(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent: plain-Scala bigram counts + bit-length surrogate
    def bitlen(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    val bigs = rows.map { case (id, t) =>
      val ws = t.toLowerCase.split(" ").filter(_.nonEmpty)
      id -> ws.dropRight(1).zip(ws.drop(1)).toSeq
    }.filter(_._2.nonEmpty)
    val c2 = bigs.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = c2.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val expect = bigs.map { case (id, bs) =>
      id -> (bs.size.toLong, bs.map(b => bitlen(c1(b._1)) - bitlen(c2(b))).sum)
    }.toMap
    assert(gotMap == expect, s"got=$gotMap expect=$expect")
    // docs with <2 tokens produce no row
    assert(!gotMap.contains(5L))
  }

  test("dsir weights match an independent computation and rank target-like docs higher") {
    val rows = Seq(
      (1L, "en", "the quick fox jumps"), (2L, "en", "the quick fox sleeps"),
      (3L, "xx", "zz yy zz yy zz"), (4L, "xx", "the quick fox jumps"),
      (5L, "en", "the quick fox"))
    val d = rows.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.dsirWeights(d, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    def bitlen(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    val bigs = rows.map { case (id, lang, t) =>
      val ws = t.toLowerCase.split(" ").filter(_.nonEmpty)
      (id, lang == "en", ws.dropRight(1).zip(ws.drop(1)).toSeq)
    }
    val cr = bigs.flatMap(_._3).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ct = bigs.filter(_._2).flatMap(_._3).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val expect = bigs.map { case (id, _, bs) =>
      id -> (bs.size.toLong,
        bs.map(b => bitlen(ct.getOrElse(b, 0L) + 1) - bitlen(cr(b) + 1)).sum)
    }.toMap
    assert(got == expect, s"got=$got expect=$expect")
    // doc 3 (pure non-target vocabulary) must rank strictly below doc 4
    // (identical text to target docs) per mean weight
    val mean = TextAnalysis.dsirWeights(d, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(mean(3L) < mean(4L), mean)
  }

  test("byte entropy surrogate: independent check, repetitive text scores lower") {
    val texts = Seq("aaaaaaaaaaaaaaaa", "the quick brown fox jumps over",
      "abab abab abab a", "")
    val d = docsDF(texts)
    val got = TextAnalysis.byteEntropy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def bitlen(n: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(n)
    val expect = texts.zipWithIndex.map { case (t, i) =>
      val bs = t.getBytes("UTF-8")
      val h = bs.groupBy(identity).view.mapValues(_.length.toLong)
      i.toLong -> (bs.length.toLong,
        h.values.map(c => c * (bitlen(bs.length.toLong) - bitlen(c))).sum)
    }.toMap
    assert(got == expect, s"got=$got expect=$expect")
    // uniform repetition => 0 bits; natural text clearly above
    assert(got(0L)._2 == 0L)
    assert(got(1L)._2 > got(2L)._2, got)
  }

  test("oov fallback ids start at |vocab| and separate scripts") {
    val v = graft.functions.BpeTokenizer.defaultVocab.size
    val d = Seq((1L, "the data join"), (2L, "日本語"))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.bpeEncodeIds(col("text")).as("ids"))
      .select(col("doc_id"), size(filter(col("ids"), x => x >= lit(v))).as("oov"),
        size(col("ids")).as("n")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out(1L)._1 == 0, out)           // all in-vocab words
    assert(out(2L) == ((3, 3)), out)       // CJK: every char falls back
  }

  test("ccnet buckets: value-ordered tertiles, full coverage per lang") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
    val out = TextAnalysis.ccnetBuckets(docs).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    val scoredDocs = TextAnalysis.bigramSurprisal(docs).count()
    assert(out.length == scoredDocs) // every scored doc stamped exactly once
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2))
      for (b <- Seq("head", "middle", "tail"))
        assert(byBucket.contains(b), s"$lang missing $b")
      // strict value ordering between buckets (ties share a bucket,
      // so max(head) < min(middle) etc. can touch but never invert)
      assert(byBucket("head").max <= byBucket("middle").min, lang)
      assert(byBucket("middle").max <= byBucket("tail").min, lang)
      // counting thresholds ⇒ head reaches at least n/3 docs
      assert(byBucket("head").size * 3 >= rows.size, lang)
    }
  }

  test("winnowing guarantee: any shared w+k-1 token run yields a shared fingerprint") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val (k, w) = (4, 5)
    val got = TextAnalysis.winnowPairs(docs, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: pairs sharing ANY (w+k-1)-gram — the exact set the
    // guarantee covers (winnowing may legitimately find more: shorter
    // shared runs can still share a window minimum)
    val run = w + k - 1
    val ws = col("__ws")
    val grams = docs
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), x => x =!= "").as("__ws"))
      .filter(size(ws) >= run)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(ws) - (run - 1)),
        i => concat_ws(" ", slice(ws, i, lit(run))))).as("g"))
      .distinct()
    val truth = grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture lost its shared runs")
    assert(truth.subsetOf(got),
      s"guarantee violated for ${truth.diff(got)}")
    // density: winnowing must select FAR fewer prints than one-per-
    // window (expected ≈ 2/(w+1) of windows before dedup; dedup only
    // lowers it) — the whole point vs keeping every window hash
    val tot = TextAnalysis.winnowFingerprints(docs, k, w)
      .agg(sum(size(col("fps")).cast("long"))).head().getLong(0)
    val windows = docs
      .select(size(filter(split(lower(col("text")), " "), x => x =!= ""))
        .as("n"))
      .filter(col("n") >= run)
      .agg(sum((col("n") - (run - 1)).cast("long"))).head().getLong(0)
    assert(tot > 0 && tot * 2 < windows,
      s"winnow density not bounded: $tot prints / $windows windows")
  }

  test("word-bigram kernel == the declarative lambda formulation (fuzz)") {
    val rnd = new scala.util.Random(11880L)
    val alphabet = "ab cd  é日́ "
    val texts = (0 until 150).map(_ => Seq.fill(rnd.nextInt(40))(
      alphabet(rnd.nextInt(alphabet.length))).mkString) :+
      "" :+ " " :+ "one" :+ "UPPER lower  MiXeD"
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val kernel = d.select(col("doc_id"), explode(
        org.apache.spark.sql.graftshim.exprToColumn(
          graft.text.WordBigrams(
            org.apache.spark.sql.graftshim.columnToExpr(col("text"))))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.toSeq).toMap
    val expect = texts.zipWithIndex.flatMap { case (t, i) =>
      val ws = t.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      ws.dropRight(1).zip(ws.drop(1)).map { case (a, b) => (i.toLong, a, b) }
    }.groupBy(_._1).view.mapValues(_.toSeq).toMap
    assert(kernel == expect)
  }

  test("shared-scratch kernels are partition-count invariant (thread safety)") {
    // reference objects are shared across an executor's task threads;
    // the AC automaton and winnow kernel carry ThreadLocal scratch —
    // the one-file fixture runs narrow chains on ONE partition, so
    // concurrency is exercised here explicitly
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
    val terms = Seq("slow", "low", "slow join", "spark", "a", "qqq")
    val one = TextAnalysis.blocklistTermStats(docs.coalesce(1), terms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val many = TextAnalysis.blocklistTermStats(docs.repartition(16), terms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(one == many)
    val w1 = TextAnalysis.winnowPairs(docs.coalesce(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w16 = TextAnalysis.winnowPairs(docs.repartition(16)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(w1 == w16 && w1.nonEmpty)
  }

  test("embedding domain score: exact grid arithmetic, target label ranks highest") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val out = Similarity.domainScore(emb, 0).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(out.length == emb.count())
    // independent: recompute one vector's dot on the same 2^16 grid
    val rows = emb.collect().map(r => (r.getLong(0), r.getInt(2),
      r.getSeq[Float](1).toArray))
    def q16(f: Array[Float]): Array[Long] =
      f.map(x => math.floor(x.toDouble * 65536.0).toLong)
    val tgt = rows.filter(_._2 == 0).map(t => q16(t._3))
    val cent = (0 until tgt.head.length).map { d =>
      tgt.map(_(d)).sum / tgt.length  // Java trunc div == IntegralDivide
    }.toArray
    val byId = rows.map(t => t._1 -> t._3).toMap
    val checkIds = out.take(5).map(_._1)
    checkIds.foreach { id =>
      val dotExpect = q16(byId(id)).zip(cent).map { case (a, b) => a * b }.sum
      val got = out.find(_._1 == id).get._3
      assert(got == dotExpect, s"vec $id: $got != $dotExpect")
    }
    // the target label's mean cosine must clearly exceed every other
    val means = out.groupBy(_._2).view.mapValues(v =>
      v.map(_._4).sum / v.size).toMap
    assert(means.keys.forall(l => l == 0 || means(0) > means(l) + 0.05), means)
  }

  private def naiveNonOverlap(text: String, p: String): Long = {
    var i = 0; var c = 0L
    var j = text.indexOf(p, i)
    while (j >= 0) { c += 1; i = j + p.length; j = text.indexOf(p, i) }
    c
  }

  private def acCounts(patterns: Seq[String], text: String,
      layout: Int): Map[Int, Long] = {
    val ac = new graft.functions.AcAutomaton(patterns.toArray, layout)
    val ad = ac.matchCounts(
      org.apache.spark.unsafe.types.UTF8String.fromString(text))
    (0 until ad.numElements()).map { i =>
      val r = ad.getStruct(i, 2)
      r.getInt(0) -> r.getLong(1)
    }.toMap
  }

  test("aho-corasick fuzz: counts match a naive indexOf scan, both layouts") {
    val rnd = new scala.util.Random(20260815L)
    val alphabet = "abc "
    for (round <- 0 until 120) {
      val text = Seq.fill(rnd.nextInt(200) + 1)(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val pats = (0 until (rnd.nextInt(6) + 1)).map(_ =>
        Seq.fill(rnd.nextInt(4) + 1)(
          alphabet(rnd.nextInt(alphabet.length))).mkString).distinct
      val expect = pats.zipWithIndex
        .map { case (p, i) => i -> naiveNonOverlap(text, p) }
        .filter(_._2 > 0).toMap
      for (layout <- Seq(graft.functions.BpeTrie.LayoutFlat,
          graft.functions.BpeTrie.LayoutCompact)) {
        val got = acCounts(pats, text, layout)
        assert(got == expect,
          s"round=$round layout=$layout pats=$pats text='$text'\n" +
            s"got=$got expect=$expect")
      }
    }
  }

  test("aho-corasick: nested prefixes, phrases, and UTF-8 byte matching") {
    // "low" ends inside every "slow" match (dictionary-suffix link);
    // the phrase crosses a word boundary; CJK/emoji exercise the
    // byte-level walk; the decomposed accent must NOT match the
    // precomposed pattern (byte-exact, the NFC op exists for that)
    val pats = Seq("low", "slow", "slow join", "去重", "🚀", "café")
    val text = "slow join is slow 去重 🚀🚀 café café"
    val expect = Map(0 -> 2L, 1 -> 2L, 2 -> 1L, 3 -> 1L, 4 -> 2L, 5 -> 1L)
    for (layout <- Seq(graft.functions.BpeTrie.LayoutFlat,
        graft.functions.BpeTrie.LayoutCompact))
      assert(acCounts(pats, text, layout) == expect, s"layout=$layout")
  }

  test("aho-corasick: self-overlapping pattern counts leftmost-greedy") {
    // "aa" in "aaaa" = 2 under replace semantics (not 3 overlapping)
    assert(acCounts(Seq("aa"), "aaaa",
      graft.functions.BpeTrie.LayoutFlat) == Map(0 -> 2L))
    assert(acCounts(Seq("aa"), "aaa",
      graft.functions.BpeTrie.LayoutCompact) == Map(0 -> 1L))
  }

  test("blocklist term stats keep zero-hit terms and count docs") {
    val d = docsDF(Seq("slow join here", "nothing at all", "slow slow"))
    val got = TextAnalysis.blocklistTermStats(d, Seq("slow", "qqq", "slow join"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("qqq", 0L, 0L), ("slow", 2L, 3L), ("slow join", 1L, 1L)), got.toSeq)
  }

  test("blocklist lexicon is lowercased at the API boundary") {
    // the scan runs over lower(text), so a mixed-case term could never
    // hit without normalization; terms that collapse fail loudly
    val d = docsDF(Seq("slow join here", "nothing at all"))
    val got = TextAnalysis.blocklistTermStats(d, Seq("SLOW", "Join"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("join", 1L, 1L), ("slow", 1L, 1L)), got.toSeq)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.blocklistTermStats(d, Seq("Bad", "bad"))
    }
    assert(e.getMessage.contains("collapse"), e.getMessage)
  }

  test("dpo pairs: election, tie rules, zero-margin and singleton drops") {
    import org.apache.spark.sql.functions._
    val d = docsDF(Seq(
      "q one ### alpha beta gamma",         // 0: 10000
      "q one ### alpha alpha alpha alpha",  // 1: 2500
      "q one ### delta delta",              // 2: 5000
      "q two ### aa bb",                    // 3: 10000 (chosen tie -> min id)
      "q two ### cc dd",                    // 4: 10000
      "q two ### ee ee ee ee",              // 5: 2500 (rejected tie -> max id)
      "q two ### ff ff ff ff",              // 6: 2500
      "q flat ### gg hh",                   // 7: zero margin
      "q flat ### ii jj",                   // 8: dropped
      "q solo ### kk ll",                   // 9: singleton dropped
      "no separator here"))                 // 10: filtered
    val got = graft.pipeline.Pipeline.dpoPairs(d)
      .orderBy(col("prompt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      ("q one", 3L, 0L, 10000L, 1L, 2500L, 7500L),
      ("q two", 4L, 3L, 10000L, 6L, 2500L, 7500L)), got.toSeq)
    // plan: the election is ONE hash aggregate — no Window, no sort
    val plan = graft.pipeline.Pipeline.dpoPairs(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("chat loss mask: role fold, marker edges, marker-free all-zero") {
    import org.apache.spark.sql.functions._
    val d = docsDF(Seq(
      "<user> hi there <assistant> hello back <user> bye",
      "<assistant> lead reply <user> tail",
      "preamble before <user> q <assistant> a",
      "<assistant> <user> empty turn",
      "no markers at all"))
    val got = TextAnalysis.chatLossMask(d).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
        r.getLong(5), r.getString(6)))
    assert(got.toSeq == Seq(
      (8L, 3L, 1L, true, 2L, "00001100"),
      (5L, 2L, 1L, true, 2L, "01100"),
      (6L, 2L, 1L, true, 1L, "000001"),
      (4L, 2L, 1L, true, 0L, "0000"),
      (4L, 0L, 0L, false, 0L, "0000")), got.toSeq)
    // markers are case-insensitive (tokens fold through lower())
    val up = docsDF(Seq("<USER> x <ASSISTANT> y z"))
    val r2 = TextAnalysis.chatLossMask(up).collect()(0)
    assert(r2.getString(6) == "00011", r2.getString(6))
    // consecutive spaces yield no token in either the kernel or size()
    val sp = docsDF(Seq("<assistant>  two   spaced  words"))
    val r3 = TextAnalysis.chatLossMask(sp).collect()(0)
    assert(r3.getLong(1) == 4L && r3.getString(6) == "0111", r3.toString)
    // an UPPERCASE-bearing custom marker folds through lower() too
    // (review fix: the kernel used to compare raw marker bytes)
    val cm = docsDF(Seq("<User> q <Assistant> a b"))
    val r4 = TextAnalysis.chatLossMask(cm, "<User>", "<Assistant>")
      .collect()(0)
    assert(r4.getBoolean(4) && r4.getString(6) == "00011", r4.toString)
  }

  test("mojibake kernel: repairs, strict-validity no-touch, astral 4-byte") {
    import org.apache.spark.unsafe.types.UTF8String
    val k = new graft.text.MojibakeKernel
    def fix(s: String) = k.fix(UTF8String.fromString(s)).toString
    // 2-byte repair and CP1252-special 3-byte repair
    assert(fix("cafÃ©") == "café")
    assert(fix("â€œqâ€") == "“q”")
    // astral 4-byte repair: the rocket emoji through CP1252 specials
    assert(fix("ðŸš€") == new String(Character.toChars(0x1F680)))
    // genuine Latin-1 (0xE9 before a space: invalid UTF-8) untouched
    assert(fix("café au lait") == "café au lait")
    // overlong (C0 80) and bare continuation rejected
    assert(fix("À") == "À")
    assert(fix("€ alone") == "€ alone")
    // surrogate range rejected: ED A0 80 would decode to U+D800
    assert(fix("í ") == "í ")
    // unmappable char anywhere leaves the whole doc untouched
    assert(fix("Ã© plus 中") == "Ã© plus 中")
    // pure ascii is identity, not mojibake
    assert(fix("plain text") == "plain text")
  }

  test("gopher repetition: hand-computed signals incl. the uncapped top-gram") {
    val out = SparkEntry.queries("text_rep_gopher")(spark, sf).collect()
      .filter(_.getLong(0) >= 9940001L)
      .map(r => ((r.getLong(0), r.getLong(1), r.getString(2)),
        (r.getDouble(3), r.getBoolean(4)))).toMap
    // "spam spam spam spam spam spam spam eggs": 32 token chars
    // top-2 "spam spam" occurs 6x at 8 chars = 48/32 = 1.5 (UNCAPPED)
    assert(out((9940004L, 2L, "top")) == ((1.5, true)), out)
    // dup-5 coverage: "spam"x5 at 3 positions covers tokens 1..7 = 28/32
    assert(out((9940004L, 5L, "dup")) == ((0.875, true)), out)
    // 7 identical tokens make exactly one distinct 7-gram: count 1, no dup
    assert(out((9940004L, 7L, "dup")) == ((0.0, false)), out)
    // 8 tokens have no 10-gram: no row at all
    assert(!out.contains((9940004L, 10L, "dup")), out.keys)
    // periodic "click here to read more" x3: every 5..15-window repeats
    // with shift 5 -> coverage = all but "now" = 57/60 for n=5 AND n=10
    assert(out((9940001L, 5L, "dup")) == ((0.95, true)), out)
    assert(out((9940001L, 10L, "dup")) == ((0.95, true)), out)
    // the all-distinct control never flags and has zero dup coverage
    (5L to 10L).foreach { n =>
      assert(out((9940003L, n, "dup")) == ((0.0, false)), s"n=$n")
    }
    // top-side flags on the control are legitimately true at this doc
    // length (a count-1 gram of long words already holds >20% of 55
    // chars — Gopher applies these to long docs); the elected gram is
    // first-occurrence-tie-broken among count-1 grams, and its exact
    // value is pinned by the SQL oracle rather than re-derived here
    (2L to 4L).foreach { n =>
      assert(out((9940003L, n, "top"))._1 < 0.4, s"n=$n")
    }
  }

  test("sentence chunking: boundaries only between sentences, straddle runs over") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("chunk_sentences")(spark, sf)
      .filter(col("doc_id") >= 9950001L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // 10 sentences x 10 tokens: cum-before 0..60 -> chunk 0 (7 sents,
    // 70 tokens — the straddle), 70..90 -> chunk 1 (3 sents, 30)
    assert(got((9950001L, 0L)) == ((7L, 70L)), got)
    assert(got((9950001L, 1L)) == ((3L, 30L)), got)
    // a single 70-token sentence stays whole in chunk 0
    assert(got((9950002L, 0L)) == ((1L, 70L)), got)
    assert(got((9950002L, 1L)) == ((1L, 8L)), got)
    // tiny doc: one chunk, three sentences, reassembled text intact
    assert(got((9950003L, 0L)) == ((3L, 6L)), got)
    val txt = SparkEntry.queries("chunk_sentences")(spark, sf)
      .filter(col("doc_id") === 9950003L).collect()(0).getString(4)
    assert(txt == "alpha beta. gamma. delta epsilon zeta", txt)
  }

  test("iban detection: mod-97 separates genuine from corrupted and lookalikes") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("pii_iban")(spark, sf)
      .filter(col("doc_id") >= 9960001L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(9960001L) == ((1L, 1L)), got) // DE example: valid
    assert(got(9960002L) == ((1L, 1L)), got) // GB example: valid
    assert(got(9960003L) == ((1L, 0L)), got) // one-digit corruption
    assert(got(9960004L) == ((1L, 0L)), got) // lookalike shape
    assert(got(9960005L) == ((0L, 0L)), got) // lowercase never matches
  }

  test("invisible sanitization: zwsp, rlo pair, isolates, bom all strip") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("text_sanitize_invisible")(spark, sf)
      .filter(col("doc_id") >= 9970001L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(9970001L) == ((1L, 0L, "payload split by zwsp")), got)
    assert(got(9970002L) == ((0L, 2L, "accesselbasid the rlo trick")), got)
    assert(got(9970003L) == ((0L, 2L, "alpha isolated beta")), got)
    assert(got(9970004L) == ((1L, 0L, "bom prefixed doc")), got)
    assert(got(9970005L) == ((0L, 0L, "perfectly clean text")), got)
  }

  test("gpt2 pretokenize: lossless partition, contraction pins, fuzz invariants") {
    import org.apache.spark.unsafe.types.UTF8String
    val k = new graft.text.Gpt2PreTokKernel
    def toks(s: String): Seq[String] = {
      val a = k.pretokens(UTF8String.fromString(s))
      (0 until a.numElements()).map(i =>
        a.getUTF8String(i).toString)
    }
    // the canonical GPT-2 example shapes
    assert(toks("it's the user's code we'll've refactored") == Seq(
      "it", "'s", " the", " user", "'s", " code", " we", "'ll", "'ve",
      " refactored"), toks("it's the user's code we'll've refactored"))
    assert(toks("hello   world  ") == Seq("hello", "  ", " world", "  "))
    assert(toks("3.14 ok") == Seq("3", ".", "14", " ok"))
    assert(toks("don'T 'x") == Seq("don", "'", "T", " '", "x"))
    assert(toks("") == Seq())
    // fuzz: every tokenization is a LOSSLESS partition and each token
    // (after its optional single leading space) is class-pure
    val rnd = new scala.util.Random(42)
    val alphabet = "ab 12!'é北\t .,xsl"
    (1 to 300).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(24))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val ts = toks(s)
      assert(ts.mkString("") == s, s"lossy: ${s.map(_.toInt)} -> $ts")
      ts.foreach { t =>
        val body = if (t.length > 1 && t.head == ' ' &&
          !t.forall(c => " \t".contains(c))) t.tail else t
        val pure = body.forall(Character.isLetter(_)) ||
          body.forall(Character.isDigit(_)) ||
          body.forall(c => " \t".contains(c)) ||
          body.forall(c => !Character.isLetterOrDigit(c) &&
            !" \t".contains(c)) ||
          Seq("'s", "'t", "'re", "'ve", "'m", "'ll", "'d").contains(t)
        assert(pure, s"impure token '$t' (${t.map(_.toInt)}) in '$s'")
      }
    }
  }

  test("NFC normalization composes combining marks; ascii passes through") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("cafe\u0301", "caf\u00e9", "plain ascii").toDF("t")
    val out = df.select(TextAnalysis.nfcNormalize(col("t")).as("n"))
      .collect().map(_.getString(0))
    assert(out(0) == out(1) && out(0) == "caf\u00e9", out.toSeq)
    assert(out(2) == "plain ascii")
    // the decomposed form is byte-distinct BEFORE normalization
    assert("cafe\u0301" != "caf\u00e9")
  }

  test("CDC mergeApply: latest wins, tombstone deletes, insert lands, " +
      "untouched rows pass through") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "v")
    val feed = Seq(
      (1L, "a1", "U", 1L), (1L, "a2", "U", 2L), // two updates: seq 2 wins
      (2L, "b", "D", 1L),                       // tombstone
      (9L, "new", "I", 1L))                     // fresh key
      .toDF("k", "v", "op", "seq")
    val out = graft.pipeline.Cdc.mergeApply(base, feed, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "a2"), (3L, "c"), (9L, "new")))
    // an upsert tombstoned then re-inserted at a later seq survives
    val feed2 = Seq((3L, "x", "D", 1L), (3L, "c2", "I", 2L))
      .toDF("k", "v", "op", "seq")
    val out2 = graft.pipeline.Cdc.mergeApply(base, feed2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out2 == Set((1L, "a"), (2L, "b"), (3L, "c2")))
  }

  test("schema evolution: widening lattice, null-fill, first-seen column " +
      "order; incompatible types throw") {
    import org.apache.spark.sql.types._
    import graft.sources.Sources
    assert(Sources.widenedType(IntegerType, LongType) == LongType)
    assert(Sources.widenedType(LongType, ShortType) == LongType)
    assert(Sources.widenedType(FloatType, DoubleType) == DoubleType)
    assert(Sources.widenedType(LongType, FloatType) == DoubleType)
    assert(Sources.widenedType(StringType, StringType) == StringType)
    intercept[IllegalArgumentException] {
      Sources.widenedType(StringType, LongType) }
    val root = java.nio.file.Files
      .createTempDirectory("graft_evolve").toString
    Seq((1L, 10, 1.5f)).toDF("k", "n", "x")
      .write.parquet(s"$root/a.parquet")
    Seq((2L, 20L, 2.5d, "w")).toDF("k", "n", "x", "c")
      .write.parquet(s"$root/b.parquet")
    val out = Sources.evolvedUnionRead(spark,
      Seq(s"$root/a.parquet", s"$root/b.parquet"))
    assert(out.columns.toSeq == Seq("k", "n", "x", "c"))
    assert(out.schema("n").dataType == LongType &&
      out.schema("x").dataType == DoubleType)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(rows == Set((1L, 10L, 1.5d, null), (2L, 20L, 2.5d, "w")))
  }

  test("CDC scd2: base is version 0, intervals chain, tombstone closes " +
      "without opening, is_current marks the open row") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val feed = Seq(
      (1L, "a1", "U", 5L), (1L, "a2", "U", 9L), // 0\u21925\u21929, 9 open
      (2L, "b", "D", 3L))                       // 0\u21923 closed, then gone
      .toDF("k", "v", "op", "seq")
    val out = graft.pipeline.Cdc.scd2(base, feed, Seq("k"))
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(out == Set(
      (1L, "a", 0L, 5L, false), (1L, "a1", 5L, 9L, false),
      (1L, "a2", 9L, -1L, true),
      (2L, "b", 0L, 3L, false)))
  }

  test("fixedwidth render guard: wide and negative quantities take " +
      "Formatter semantics (widen, never truncate); domain values are " +
      "byte-identical to the fast lpad path") {
    // the exact render expression the fixedwidth_parse entry uses
    def render(q: org.apache.spark.sql.Column) =
      when(q < 0.0 || q >= 99999.0, format_string("%8.2f", q))
        .otherwise(lpad(q.cast("decimal(12,2)").cast("string"), 8, " "))
    val df = Seq(1.0, 50.0, 99998.999, 99999.995, 123456.78, -7.5)
      .toDF("q").select(col("q"), render(col("q")).as("r"))
    val got = df.collect().map(r => (r.getDouble(0), r.getString(1))).toMap
    // domain values: 8-char right-justified, same bytes as %8.2f
    assert(got(1.0) == "    1.00" && got(50.0) == "   50.00")
    assert(got(99998.999) == "99999.00")
    // boundary and beyond: the Formatter branch WIDENS instead of
    // silently dropping leading digits (the pre-guard lpad cliff)
    assert(got(99999.995) == "100000.00")
    assert(got(123456.78) == "123456.78")
    assert(got(-7.5) == "   -7.50")
  }

  test("posting_pairs kernel: identical pair set and order to the " +
      "lambda form, early break on the sorted length bound") {
    import org.apache.spark.sql.functions.{transform => atransform}
    // sorted by (len, doc_id) as the bounded collector guarantees
    val ds = Seq((Seq((7L, 10), (3L, 11), (9L, 12), (1L, 40), (4L, 41))))
      .toDF("ds")
      .select(col("ds").cast("array<struct<doc_id:bigint,len:int>>").as("ds"))
    val maxDist = 5
    val kernel = ds.select(
      graft.functions.BoundedCollect.postingPairs(col("ds"), maxDist).as("p"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    // the pre-r16 interpreted formulation, evaluated on the same list
    val lambda = ds.select(flatten(atransform(col("ds"), (x, i) =>
        atransform(
          filter(slice(col("ds"), i + lit(2), size(col("ds"))),
            y => y("len") - x("len") <= maxDist),
          y => struct(
            least(x("doc_id"), y("doc_id")).as("id_a"),
            greatest(x("doc_id"), y("doc_id")).as("id_b"))))).as("p"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(kernel == lambda, s"kernel=$kernel lambda=$lambda")
    // pairs within the band, normalized a < b; the (len 10..12) block
    // pairs internally, the (40, 41) block pairs internally, and the
    // cross-block pairs are out of band
    assert(kernel == Seq((3L, 7L), (7L, 9L), (3L, 9L), (1L, 4L)))
  }

  test("trainer continuation resumes from live state: " +
      "trainThenContinue(k, m) == trainMerges(k + m)") {
    val docs = Seq("low lower lowest", "new newer newest", "low low new")
      .toDF("text")
    val resumed = graft.text.BpeTrainer.trainThenContinueMerges(docs, 4, 4)
    val straight = graft.text.BpeTrainer.trainMerges(docs, 8)
    assert(resumed == straight, s"resumed=$resumed straight=$straight")
    // and the stored-list replay path still agrees (the cross-session
    // continuation contract)
    val first = graft.text.BpeTrainer.trainMerges(docs, 4)
    val replayed = graft.text.BpeTrainer.continueMerges(docs, first, 4)
    assert(replayed == straight, s"replayed=$replayed straight=$straight")
  }
}
