package graft.etl

import graft.SparkSpec
import graft.functions.DedupPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, md5}

/** Corpus ingest orchestration: gates, batch + incremental dedup
  * routing, persisted-artifact appends, KMV drift monitoring. */
class CorpusManagerSpec extends SparkSpec {

  /** Deterministic 12-token doc over a ≤30-word vocab. Distinct seeds
    * share words but almost no 3-gram shingles (order differs), so only
    * planted near-copies pair up. */
  private def mkText(seed: Int): String =
    (0 until 12).map(i => s"w${(seed * (i * i + 3) + i * 7) % 30}").mkString(" ")

  /** Near-copy: last token changed — 1 of 10 shingles differs. */
  private def near(text: String): String =
    text.split(" ").dropRight(1).mkString(" ") + " zzz"

  /** Same tokens, reversed order: no shared 3-gram shingles (NOT a
    * near-dup) but an identical vocabulary — containment stays 1.0.
    * Only valid for seeds whose token sequence is not near-palindromic:
    * seed 7's sequence (21 5 3 15 11 21 15 23 15 21 11 15) shares 7 of
    * 13 trigrams with its own reversal — TRUE Jaccard 0.54, a genuine
    * near-dup — which the round-2 hash family happened to underestimate
    * below the 0.5 gate. The books-side fresh doc uses seed 9, whose
    * reversal is fully disjoint. */
  private def reorder(text: String): String =
    text.split(" ").reverse.mkString(" ")

  private def docs(rows: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private def corpusIds(m: CorpusManager): Set[Long] =
    m.corpus().select("doc_id").collect().map(_.getLong(0)).toSet

  test("embedding near-dups drop via the IVF candidate path; corpus join exchange-free") {
    val s = spark; import s.implicits._
    def vec(hot: Int, eps: Float = 0f, epsDim: Int = 0): Array[Float] = {
      val a = new Array[Float](8); a(hot) = 1f
      if (eps != 0f) a(epsDim) = eps
      a
    }
    val m = new CorpusManager("cm_emb", tmpDir("cmemb"), spark,
      numBuckets = 4, minTokens = 2,
      embCol = Some("emb"), embNearCos = 0.95, annCells = 4, embDims = 8)
    try {
      // ids chosen so the md5-ordered quantizer seeds are exactly the
      // four distinct directions (md5 order: 6 < 77 < 88 < 9 < ... < 99)
      val init = Seq(
        (6L, mkText(1), "web", vec(0)),
        (77L, mkText(4), "web", vec(1)),
        (88L, mkText(5), "web", vec(2)),
        (9L, mkText(6), "web", vec(3)),
        // embedding near-dup of doc 6 WITHIN the initial batch (text is
        // fresh — only the vector signal can catch it)
        (99L, mkText(202), "web", vec(0, eps = 0.05f, epsDim = 7)))
        .toDF("doc_id", "text", "source", "emb")
      val r0 = m.ingestInitial(init)
      assert(r0.ingested == 4 && r0.duplicates == 1,
        s"initial: $r0")
      assert(!m.corpus().select("doc_id").as[Long].collect().contains(99L))
      // shard: 101 has FRESH text but an embedding ≈ corpus doc 77 →
      // must drop via the vector path; 102 is fresh on both signals
      val shard = Seq(
        (101L, mkText(11), "web", vec(1, eps = 0.05f, epsDim = 6)),
        (102L, mkText(12), "web", vec(5)))
        .toDF("doc_id", "text", "source", "emb")
      val r1 = m.ingestShard(shard)
      assert(r1.ingested == 1 && r1.duplicates == 1, s"shard: $r1")
      val ids = m.corpus().select("doc_id").as[Long].collect().toSet
      assert(ids.contains(102L) && !ids.contains(101L))
      // the corpus side of the candidate join is the (cell)-bucketed
      // vector table: the join must plan exchange-free on that side
      val assigned = m.assignCells(shard, "emb", m.readCentroids())
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val plan = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        m.embVerifiedPairs(assigned, m.readManifest().get).queryExecution.executedPlan.toString()
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cm_emb_vecs_v1")
      spark.sql("DROP TABLE IF EXISTS cm_emb_bands_v1")
      spark.sql("DROP TABLE IF EXISTS cm_emb_shard_bands")
    }
  }

  test("embProbes=2 finds a near-dup pair straddling a quantizer cell boundary that top-1 misses") {
    val s = spark; import s.implicits._
    // Geometry (24 dims): cell anchors along e0 and e1, eps-spread in
    // distinct spare dims so no two anchors are embedding-dups of each
    // other; the corpus straddler c = (1, 0.9, 0…) assigns to cell0,
    // while the shard doc sh = (0.8, 1, 0…) has top-1 cell1 and
    // runner-up cell0 — yet cos(c, sh) = 0.987, a true near-dup. The 9
    // anchors per cell keep the trained centroids pinned to their axes
    // so c cannot drag cell0's centroid over the boundary. Seeds: ids
    // 27 and 63 are the two md5-lowest, one per anchor group.
    def unit(hot: Int, eps: Int = -1): Array[Float] = {
      val a = new Array[Float](24); a(hot) = 1f
      if (eps >= 0) a(eps) = 0.3f
      a
    }
    val straddler = { val a = new Array[Float](24); a(0) = 1f; a(1) = 0.9f; a }
    val shardVec = { val a = new Array[Float](24); a(0) = 0.8f; a(1) = 1f; a }
    val e0Ids = Seq(27L, 1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L)
    val e1Ids = Seq(63L, 5L, 7L, 8L, 9L, 15L, 16L, 17L, 18L)
    // mkText seeds must stay distinct mod 30 (the helper's vocab period)
    // or two "fresh" texts silently collide into an exact dup
    val init = (e0Ids.zipWithIndex.map { case (id, i) =>
        (id, mkText(1 + i), "web", unit(0, 2 + i)) } ++
      e1Ids.zipWithIndex.map { case (id, i) =>
        (id, mkText(11 + i), "web", unit(1, 11 + i)) } :+
      ((10L, mkText(21), "web", straddler)))
      .toDF("doc_id", "text", "source", "emb")
    val shard = Seq((101L, mkText(22), "web", shardVec))
      .toDF("doc_id", "text", "source", "emb")
    def mgr(tag: String, probes: Int) = new CorpusManager(s"cm_np$tag",
      tmpDir(s"cmnp$tag"), spark, numBuckets = 4, minTokens = 2,
      embCol = Some("emb"), embNearCos = 0.95, annCells = 2, embDims = 24,
      embProbes = probes)
    val m1 = mgr("1", 1)
    val m2 = mgr("2", 2)
    try {
      assert(m1.ingestInitial(init).ingested == 19, "no intra dups planted")
      assert(m2.ingestInitial(init).ingested == 19)
      // the geometry holds: under the trained quantizer the straddler
      // and the shard doc sit in DIFFERENT top-1 cells
      val cents = m1.readCentroids()
      val top1 = graft.functions.VectorFunctions.ivfAssignMulti(
          init.filter(col("doc_id") === 10L).unionByName(shard)
            .select(col("doc_id"), col("emb")), "doc_id", "emb", cents, 1)
        .select("doc_id", "cell").as[(Long, Long)].collect().toMap
      assert(top1(10L) != top1(101L), s"straddle geometry broken: $top1")
      // ...and the shard doc's runner-up cell IS the straddler's cell
      val top2 = graft.functions.VectorFunctions.ivfAssignMulti(
          shard.select(col("doc_id"), col("emb")), "doc_id", "emb", cents, 2)
        .select("cell").as[Long].collect().toSet
      assert(top2 == Set(top1(10L), top1(101L)), s"probe cells: $top2")
      // top-1 probing misses the boundary pair — the documented hole
      val r1 = m1.ingestShard(shard)
      assert(r1.ingested == 1 && r1.duplicates == 0,
        s"embProbes=1 must miss the straddle: $r1")
      // two probes find it: 101 drops against corpus doc 10
      val r2 = m2.ingestShard(shard)
      assert(r2.ingested == 0 && r2.duplicates == 1,
        s"embProbes=2 must catch the straddle: $r2")
      assert(corpusIds(m1).contains(101L) && !corpusIds(m2).contains(101L))
      // policy floor: at spec-scale cell counts the recall-targeted
      // rule adds nothing, so the configured embProbes is exactly what
      // runs — m1 probed 1 cell (missed), m2 probed 2 (caught)
      assert(m1.probesFor(m1.readCentroids().length) == 1)
      assert(m2.probesFor(m2.readCentroids().length) == 2)
    } finally {
      Seq("cm_np1_vecs_v1", "cm_np2_vecs_v1", "cm_np1_bands_v1",
        "cm_np2_bands_v1", "cm_np1_shard_bands", "cm_np2_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("recall-targeted probe policy: density pinned to the measured anchor, never widening with corpus growth") {
    val m = new CorpusManager("cm_pp", tmpDir("cmpp"), spark,
      embCol = Some("emb"))
    // spec-scale cell counts: the configured floor (default 1) runs
    assert(m.probesFor(2) == 1 && m.probesFor(16) == 1)
    // the 2M record's anchor: 1665 cells → 3 probes (99.8% measured)
    assert(m.probesFor(1665) == 3)
    // the round-10 boundary: at 3330 cells a STATIC 3 measured 98.8%
    // cross recall — the policy holds the anchor density instead
    assert(m.probesFor(3330) == 6)
    // cellsFor's 4096 cap bounds the default policy at 8 probes
    assert(m.probesFor(4096) == 8)
    // a user-raised annCells beyond the cap meets the probe ceiling
    assert(m.probesFor(100000) == CorpusManager.MaxAutoProbes)
    // monotone in cells (no thrash decade to decade)
    val pts = Seq(2, 16, 555, 1110, 1665, 3330, 4096, 20000)
    assert(pts.map(m.probesFor).sliding(2).forall(w => w(0) <= w(1)))
    // the configured floor still wins where it is larger, and the
    // probe count never exceeds the cell count
    val m5 = new CorpusManager("cm_pp5", tmpDir("cmpp5"), spark,
      embCol = Some("emb"), embProbes = 5)
    assert(m5.probesFor(1665) == 5)
    assert(m5.probesFor(4) == 4)
  }

  test("compaction retrains the quantizer; stale cells separate; old ann version vacuumed") {
    val s = spark; import s.implicits._
    def vec(hot: Int, eps: Float = 0f, epsDim: Int = 0): Array[Float] = {
      val a = new Array[Float](8); a(hot) = 1f
      if (eps != 0f) a(epsDim) = eps
      a
    }
    val m = new CorpusManager("cm_rt", tmpDir("cmrt"), spark,
      numBuckets = 4, minTokens = 2,
      embCol = Some("emb"), embNearCos = 0.95, annCells = 4, embDims = 8)
    try {
      // initial corpus: 4 docs in orthogonal directions 0-3; md5 order
      // (6 < 77 < 88 < 9) makes each its own quantizer seed → the v1
      // cells are exactly directions 0-3
      m.ingestInitial(Seq(
        (6L, mkText(1), "web", vec(0)), (77L, mkText(4), "web", vec(1)),
        (88L, mkText(5), "web", vec(2)), (9L, mkText(6), "web", vec(3)))
        .toDF("doc_id", "text", "source", "emb"))
      // shard: two docs in NEW directions 4 and 5 — orthogonal to every
      // v1 centroid, so the stale quantizer ties them into one cell
      val r1 = m.ingestShard(Seq(
        (170L, mkText(21), "web", vec(4)), (301L, mkText(22), "web", vec(5)))
        .toDF("doc_id", "text", "source", "emb"))
      assert(r1.ingested == 2, s"shard1: $r1")
      val newDirs = Seq((170L, mkText(21), "web", vec(4)),
        (301L, mkText(22), "web", vec(5))).toDF("doc_id", "text", "source", "emb")
      val stale = m.assignCells(newDirs, "emb", m.readCentroids())
        .select("doc_id", "cell").as[(Long, Long)].collect().toMap
      assert(stale(170L) == stale(301L),
        "stale quantizer cannot separate the post-training directions")
      // compaction retrains on the full corpus: 170 is now the lowest
      // md5 seed → its direction becomes a cell of its own
      m.compactArtifacts()
      assert(m.readManifest().get.bandsVersion == 2L)
      assert(m.readCentroidsAt(1).map(_._1).toSet !=
        m.readCentroidsAt(2).map(_._1).toSet, "retrain must reseed")
      val fresh = m.assignCells(newDirs, "emb", m.readCentroids())
        .select("doc_id", "cell").as[(Long, Long)].collect().toMap
      assert(fresh(170L) != fresh(301L),
        s"retrained quantizer must separate directions 4 and 5: $fresh")
      // post-compaction shard: 401 has fresh text but an embedding near
      // corpus doc 170 — must drop through the RETRAINED cell path; 402
      // is fresh on both signals
      val r2 = m.ingestShard(Seq(
        (401L, mkText(31), "web", vec(4, eps = 0.05f, epsDim = 7)),
        (402L, mkText(32), "web", vec(6)))
        .toDF("doc_id", "text", "source", "emb"))
      assert(r2.ingested == 1 && r2.duplicates == 1, s"shard2: $r2")
      assert(!corpusIds(m).contains(401L) && corpusIds(m).contains(402L))
      // v2 is the one the candidate join reads, still bucketed
      val assigned = m.assignCells(newDirs, "emb", m.readCentroids())
      val plan = m.embVerifiedPairs(assigned, m.readManifest().get).queryExecution.executedPlan.toString()
      assert(plan.contains("cm_rt_vecs_v2") || plan.contains("Bucketed: true"), plan)
      // retain only the live generation: ann/v1 (vectors + centroid
      // sidecar) must be reclaimed, v2 untouched, reads intact
      m.vacuum(retainLast = 1)
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(m.vecsPath(1))),
        "vacuum must reclaim the superseded ann version")
      assert(fsys.exists(new org.apache.hadoop.fs.Path(m.vecsPath(2))))
      assert(!spark.catalog.tableExists("cm_rt_vecs_v1"))
      assert(corpusIds(m).contains(402L))
    } finally {
      Seq("cm_rt_vecs_v1", "cm_rt_vecs_v2", "cm_rt_bands_v1",
        "cm_rt_bands_v2", "cm_rt_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("migrateAnnLayout: legacy store gains ann/v1 and matches a fresh ingest") {
    val s = spark; import s.implicits._
    def vec(hot: Int, eps: Float = 0f, epsDim: Int = 0): Array[Float] = {
      val a = new Array[Float](8); a(hot) = 1f
      if (eps != 0f) a(epsDim) = eps
      a
    }
    val init = Seq(
      (6L, mkText(1), "web", vec(0)), (77L, mkText(4), "web", vec(1)),
      (88L, mkText(5), "web", vec(2)), (9L, mkText(6), "web", vec(3)))
      .toDF("doc_id", "text", "source", "emb")
    // shard: 101 has FRESH text but an embedding ≈ corpus doc 77 — only
    // the vector path can drop it; 102 is fresh on both signals
    val shard = Seq(
      (101L, mkText(11), "web", vec(1, eps = 0.05f, epsDim = 6)),
      (102L, mkText(12), "web", vec(5)))
      .toDF("doc_id", "text", "source", "emb")
    val legacyRoot = tmpDir("cmmig-legacy")
    try {
      // the legacy store: ingested BEFORE the embedding path — docs
      // carry the emb column, but no ann artifact exists and the
      // manifest pins no vector files
      val legacy = new CorpusManager("cm_mig", legacyRoot, spark,
        numBuckets = 4, minTokens = 2)
      legacy.ingestInitial(init)
      assert(legacy.snapshotFiles().get.vecs.isEmpty)
      // reopened with embCol: no config-flip shortcut — the vector
      // artifact genuinely is not there (compaction would refuse too)
      val m = new CorpusManager("cm_mig", legacyRoot, spark,
        numBuckets = 4, minTokens = 2,
        embCol = Some("emb"), embNearCos = 0.95, annCells = 4, embDims = 8)
      val man = m.migrateAnnLayout()
      assert(man.bandsVersion == 1L, "migration keeps the live version")
      assert(m.snapshotFiles().get.vecs.nonEmpty,
        "migration must pin the new vector files")
      // a second migrate has nothing to do — loudly
      val again = intercept[IllegalArgumentException] { m.migrateAnnLayout() }
      assert(again.getMessage.contains("nothing to migrate"))
      // fresh twin: same docs, vectors written at initial ingest
      val freshM = new CorpusManager("cm_fresh", tmpDir("cmmig-fresh"), spark,
        numBuckets = 4, minTokens = 2,
        embCol = Some("emb"), embNearCos = 0.95, annCells = 4, embDims = 8)
      freshM.ingestInitial(init)
      // identical quantizer: trained on the same canonical corpus with
      // the same deterministic seed order
      assert(m.readCentroids().map(_._2.toSeq).toSeq ==
        freshM.readCentroids().map(_._2.toSeq).toSeq)
      // dedup parity: the same shard takes the same drops on both
      val rm = m.ingestShard(shard)
      val rf = freshM.ingestShard(shard)
      assert(rm.ingested == rf.ingested && rm.duplicates == rf.duplicates,
        s"migrated=$rm fresh=$rf")
      assert(rm.duplicates == 1, s"vector near-dup must drop: $rm")
      assert(corpusIds(m) == corpusIds(freshM))
      assert(!corpusIds(m).contains(101L) && corpusIds(m).contains(102L))
    } finally {
      Seq("cm_mig_vecs_v1", "cm_mig_bands_v1", "cm_mig_shard_bands",
        "cm_fresh_vecs_v1", "cm_fresh_bands_v1", "cm_fresh_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("signature-scheme mismatch refuses ingest/compaction; migration restores it") {
    val s = spark; import s.implicits._
    val root = tmpDir("cmscheme")
    val m = new CorpusManager("cm_sig", root, spark,
      numBuckets = 4, minTokens = 2)
    try {
      m.ingestInitial(docs(Seq(
        (1L, mkText(1), "web"), (2L, mkText(2), "web"), (3L, mkText(3), "web"))))
      assert(m.readManifest().get.sigScheme ==
        graft.functions.Signatures.SchemeVersion)
      // doctor the committed pointer to claim the pre-stamp scheme (1):
      // exactly what a store ingested under the old hash family looks
      // like after the upgrade (absent field parses as 1)
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val ptr = new org.apache.hadoop.fs.Path(root, "_corpus.json")
      val txt = graft.sources.ManifestIO.readVerified(fsys, ptr)
        .replace(
          s""""sigScheme" : ${graft.functions.Signatures.SchemeVersion}""",
          "\"sigScheme\" : 1")
      assert(txt.contains("\"sigScheme\" : 1"), s"doctoring failed: $txt")
      val out = fsys.create(ptr, true)
      try out.write(graft.sources.ManifestIO.seal(txt.getBytes("UTF-8")))
      finally out.close()
      // every signature-consuming mutation refuses loudly, pre-write
      val shard = docs(Seq((10L, near(mkText(1)), "web"),
        (11L, mkText(9), "web")))
      val e1 = intercept[IllegalStateException] { m.ingestShard(shard) }
      assert(e1.getMessage.contains("signature scheme"))
      val e2 = intercept[IllegalStateException] { m.compactArtifacts() }
      assert(e2.getMessage.contains("signature scheme"))
      // the migration recomputes sigs/bands from the canonical docs and
      // stamps the current scheme; normal operation resumes, with
      // near-dup recall intact (10 ≈ corpus doc 1 must drop)
      val man2 = m.migrateSignatureScheme()
      assert(man2.sigScheme == graft.functions.Signatures.SchemeVersion)
      assert(man2.bandsVersion == 2L, "band table rewritten as v2")
      val r = m.ingestShard(shard)
      assert(r.ingested == 1 && r.duplicates == 1, s"post-migration: $r")
      assert(!corpusIds(m).contains(10L) && corpusIds(m).contains(11L))
      // nothing to migrate on a current store
      val e3 = intercept[IllegalArgumentException] { m.migrateSignatureScheme() }
      assert(e3.getMessage.contains("nothing to migrate"))
    } finally {
      Seq("cm_sig_bands_v1", "cm_sig_bands_v2", "cm_sig_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("the manifest records each artifact's footer schema; one without the field " +
      "still reads and regains it") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val s = spark; import s.implicits._
    val root = tmpDir("cmschemas")
    val m = new CorpusManager("cm_schemas", root, spark,
      numBuckets = 4, minTokens = 2)
    try {
      m.ingestInitial(docs(Seq(
        (1L, mkText(1), "web"), (2L, mkText(2), "web"), (3L, mkText(3), "web"))))
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val ptr = new org.apache.hadoop.fs.Path(root, "_corpus.json")
      def pointer(): JObject = JsonMethods.parse(
        graft.sources.ManifestIO.readVerified(fsys, ptr)).asInstanceOf[JObject]
      // the keys manifests carried before the field, plus `schemas`
      assert(pointer().obj.map(_._1) == Seq("name", "generation", "nDocs", "ngram",
        "perms", "bands", "minEstJaccard", "numBuckets", "bandsVersion", "parent",
        "sigScheme", "mediaScheme", "mediaBlocksVersion", "mediaRadius",
        "mediaCombo", "files", "schemas"))
      assert((pointer() \ "files").asInstanceOf[JObject].obj.map(_._1) == Seq("docs",
        "sigs", "hashes", "sketch", "bands", "vecs", "media", "mediaBlocks"))
      // every recorded schema is the footer schema of the files it pins
      def recorded(): Set[String] = {
        val man = m.readManifest().get
        val files = man.files.get
        val pins = Map("docs" -> files.docs, "sigs" -> files.sigs,
          "hashes" -> files.hashes, "sketch" -> files.sketch)
        man.schemas.foreach { case (k, json) =>
          assert(org.apache.spark.sql.types.DataType.fromJson(json) ==
            spark.read.parquet(pins(k).map(f => s"$root/$f"): _*).schema, k)
        }
        man.schemas.keySet
      }
      val all = Set("docs", "sigs", "hashes", "sketch")
      assert(recorded() == all)
      // doctor the pointer to a manifest written before the field
      val legacy = JObject(pointer().obj.filterNot(_._1 == "schemas"))
      val out = fsys.create(ptr, true)
      try out.write(graft.sources.ManifestIO.seal(
        JsonMethods.pretty(JsonMethods.render(legacy)).getBytes("UTF-8")))
      finally out.close()
      assert(m.readManifest().get.schemas.isEmpty)
      assert(corpusIds(m) == Set(1L, 2L, 3L))
      val r = m.ingestShard(docs(Seq((10L, near(mkText(1)), "web"),
        (11L, mkText(9), "web"))))
      assert(r.ingested == 1 && r.duplicates == 1, r.toString)
      // the shard's commit records the schemas of what its scans read;
      // the docs schema returns with the next full rewrite
      assert(recorded() == Set("sigs", "hashes", "sketch"))
      m.compactArtifacts(partitions = 2)
      assert(recorded() == all)
      assert(corpusIds(m) == Set(1L, 2L, 3L, 11L))
      // a shard with other docs columns drops the docs entry: the corpus
      // scan infers, as before the field
      m.ingestShard(Seq((20L, mkText(20), "web", "en")).toDF("doc_id", "text", "source", "lang"))
      assert(recorded() == all - "docs")
      assert(corpusIds(m) == Set(1L, 2L, 3L, 11L, 20L))
    } finally {
      Seq("cm_schemas_bands_v1", "cm_schemas_bands_v2", "cm_schemas_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("a manifest from before the vecs, media and mediaBlocks keys reads, vacuums, " +
      "ingests and is rewritten with all eight keys") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = tmpDir("cmoldkeys")
    val m = new CorpusManager("cm_oldkeys", root, spark,
      numBuckets = 4, minTokens = 2)
    try {
      m.ingestInitial(docs(Seq(
        (1L, mkText(1), "web"), (2L, mkText(2), "web"), (3L, mkText(3), "web"))))
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val ptr = new org.apache.hadoop.fs.Path(root, "_corpus.json")
      def pointer(): JObject = JsonMethods.parse(
        graft.sources.ManifestIO.readVerified(fsys, ptr)).asInstanceOf[JObject]
      def fileKeys(): Seq[String] = (pointer() \ "files").asInstanceOf[JObject].obj.map(_._1)
      val pinned = m.snapshotFiles().get
      // doctor the pointer to a manifest written before the three keys
      val dropped = Set("vecs", "media", "mediaBlocks")
      val legacy = JObject(pointer().obj.map {
        case ("files", JObject(kv)) => "files" -> JObject(kv.filterNot(f => dropped(f._1)))
        case kv => kv
      })
      val out = fsys.create(ptr, true)
      try out.write(graft.sources.ManifestIO.seal(
        JsonMethods.pretty(JsonMethods.render(legacy)).getBytes("UTF-8")))
      finally out.close()
      assert(fileKeys() == Seq("docs", "sigs", "hashes", "sketch", "bands"))
      // it reads with those lists empty and the others as written
      val read = m.snapshotFiles().get
      assert(read.vecs.isEmpty && read.media.isEmpty && read.mediaBlocks.isEmpty)
      assert(read == pinned)
      assert(corpusIds(m) == Set(1L, 2L, 3L))
      // vacuum deletes an orphan and no pinned file
      docs(Seq((99L, mkText(99), "web"))).write.mode("append").parquet(m.docsPath)
      val orphans = new java.io.File(m.docsPath).list().toSet
        .filter(f => f.endsWith(".parquet") && !pinned.docs.exists(_.endsWith(f)))
      assert(orphans.size == 1, orphans.toString)
      val removed = m.vacuum(retainLast = 1)
      assert(removed.map(_.stripPrefix("docs/")).toSet == orphans, removed.toString)
      assert(pinned.byKey.values.flatten.forall(f => new java.io.File(s"$root/$f").exists()))
      assert(corpusIds(m) == Set(1L, 2L, 3L))
      // a shard ingests with the expected drop, and its commit writes all
      // eight keys in order
      val r = m.ingestShard(docs(Seq((10L, near(mkText(1)), "web"),
        (11L, mkText(9), "web"))))
      assert(r.ingested == 1 && r.duplicates == 1, r.toString)
      assert(corpusIds(m) == Set(1L, 2L, 3L, 11L))
      assert(fileKeys() == Seq("docs", "sigs", "hashes", "sketch", "bands", "vecs",
        "media", "mediaBlocks"))
    } finally {
      Seq("cm_oldkeys_bands_v1", "cm_oldkeys_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("hasher choice stamps the scheme; switching hashers routes through migration") {
    val s = spark; import s.implicits._
    val root = tmpDir("cmxxh")
    val xxp = graft.functions.DedupPipeline.Params(
      hasher = graft.functions.Signatures.Xxh64SigHasher)
    val mx = new CorpusManager("cm_xxh", root, spark, p = xxp,
      numBuckets = 4, minTokens = 2)
    try {
      mx.ingestInitial(docs(Seq(
        (1L, mkText(1), "web"), (2L, mkText(2), "web"), (3L, mkText(3), "web"))))
      assert(mx.readManifest().get.sigScheme ==
        graft.functions.Signatures.Xxh64SigHasher.scheme)
      // the xxh64-scheme store works under the xxh64 manager: near-dup
      // recall through the persisted bands, same as md5
      val r = mx.ingestShard(docs(Seq((10L, near(mkText(1)), "web"),
        (11L, mkText(9), "web"))))
      assert(r.ingested == 1 && r.duplicates == 1, s"xxh64 ingest: $r")
      // a DEFAULT (md5) manager on the same store refuses loudly...
      val mm = new CorpusManager("cm_xxh", root, spark,
        numBuckets = 4, minTokens = 2)
      val e = intercept[IllegalStateException] {
        mm.ingestShard(docs(Seq((12L, mkText(4), "web"))))
      }
      assert(e.getMessage.contains("signature scheme"))
      // ...and migration under the md5 manager recomputes + re-stamps
      val man2 = mm.migrateSignatureScheme()
      assert(man2.sigScheme == graft.functions.Signatures.Md5SigHasher.scheme)
      val r2 = mm.ingestShard(docs(Seq((12L, near(mkText(2)), "web"),
        (13L, mkText(8), "web"))))
      assert(r2.ingested == 1 && r2.duplicates == 1, s"post-migration: $r2")
    } finally {
      Seq("cm_xxh_bands_v1", "cm_xxh_bands_v2", "cm_xxh_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("migrateAnnLayout refusals: unset embCol, missing emb column") {
    val s = spark; import s.implicits._
    val root = tmpDir("cmmig-refuse")
    val noEmb = new CorpusManager("cm_mr", root, spark,
      numBuckets = 4, minTokens = 2)
    try {
      noEmb.ingestInitial(docs(Seq((1L, mkText(1), "web"), (2L, mkText(2), "web"))))
      val e1 = intercept[IllegalArgumentException] { noEmb.migrateAnnLayout() }
      assert(e1.getMessage.contains("embCol"))
      // embCol configured but the docs never carried the column: the
      // failure names the missing source instead of an AnalysisException
      val m = new CorpusManager("cm_mr", root, spark,
        numBuckets = 4, minTokens = 2,
        embCol = Some("emb"), embNearCos = 0.95, annCells = 4, embDims = 8)
      val e2 = intercept[IllegalArgumentException] { m.migrateAnnLayout() }
      assert(e2.getMessage.contains("no 'emb' column"))
    } finally {
      Seq("cm_mr_bands_v1", "cm_mr_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("low-threshold embNearCos routes intra-batch candidates to the blocked join") {
    val s = spark; import s.implicits._
    // a cos≈0.6 planted pair: at 8×12-bit LSH its per-table collision
    // probability is ~1.4%, so the bucket path would usually MISS it —
    // the low-threshold regime must go through the exhaustive blocked
    // join, which finds it deterministically
    val m = new CorpusManager("cm_lo", tmpDir("cmlo"), spark,
      numBuckets = 4, minTokens = 2,
      embCol = Some("emb"), embNearCos = 0.5, annCells = 2, embDims = 8)
    try {
      val v1 = { val a = new Array[Float](8); a(0) = 1f; a }
      val v2 = { val a = new Array[Float](8); a(0) = 0.6f; a(1) = 0.8f; a }
      val v3 = { val a = new Array[Float](8); a(3) = 1f; a }
      val r = m.ingestInitial(Seq(
        (1L, mkText(1), "web", v1), (2L, mkText(4), "web", v2),
        (3L, mkText(5), "web", v3)).toDF("doc_id", "text", "source", "emb"))
      assert(r.ingested == 2 && r.duplicates == 1, s"$r")
      assert(corpusIds(m) == Set(1L, 3L))
    } finally {
      Seq("cm_lo_vecs_v1", "cm_lo_bands_v1")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("compaction retry over a crashed attempt's half-written ann version") {
    val s = spark; import s.implicits._
    def vec(hot: Int, eps: Float = 0f): Array[Float] = {
      val a = new Array[Float](8); a(hot) = 1f
      if (eps != 0f) a(7) = eps
      a
    }
    val root = tmpDir("cmcrash")
    val m = new CorpusManager("cm_cr", root, spark,
      numBuckets = 4, minTokens = 2,
      embCol = Some("emb"), embNearCos = 0.95, annCells = 4, embDims = 8)
    try {
      m.ingestInitial(Seq(
        (6L, mkText(1), "web", vec(0)), (77L, mkText(4), "web", vec(1)),
        (88L, mkText(5), "web", vec(2)), (9L, mkText(6), "web", vec(3)))
        .toDF("doc_id", "text", "source", "emb"))
      // a CRASHED earlier compaction: ann/v2 exists with garbage vectors
      // and a stale centroid sidecar, but the manifest never moved —
      // exactly the state a failure between the vector rewrite and the
      // manifest commit leaves behind
      Seq((999L, Array.fill(8)(9f), 0L)).toDF("doc_id", "emb", "cell")
        .write.parquet(m.vecsPath(2))
      Seq((0L, Array.fill(8)(1f))).toDF("cell", "ce")
        .write.parquet(s"$root/ann/v2/centroids")
      assert(m.readManifest().get.bandsVersion == 1L) // pointer untouched
      // the RETRY must overwrite the orphan wholesale (no merged garbage)
      m.compactArtifacts()
      assert(m.readManifest().get.bandsVersion == 2L)
      assert(!m.readCentroidsAt(2).map(_._1).contains(0L),
        "retry must replace the crashed attempt's centroid sidecar")
      // post-retry dedup through the v2 table: near-dup of doc 77 by
      // vector only; the garbage 999 row must be gone, not a candidate
      val r = m.ingestShard(Seq(
        (201L, mkText(11), "web", vec(1, eps = 0.05f)))
        .toDF("doc_id", "text", "source", "emb"))
      assert(r.ingested == 0 && r.duplicates == 1, s"$r")
      assert(!corpusIds(m).contains(999L))
    } finally {
      Seq("cm_cr_vecs_v1", "cm_cr_vecs_v2", "cm_cr_bands_v1",
        "cm_cr_bands_v2", "cm_cr_shard_bands")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("initial ingest: quality gate + batch dedup + artifacts") {
    val m = new CorpusManager("cm_spec1", tmpDir("cm1"), spark,
      numBuckets = 4, minTokens = 2)
    val r = m.ingestInitial(docs(Seq(
      (1L, mkText(1), "web"),
      (2L, mkText(1), "web"),          // exact dup of 1
      (3L, near(mkText(1)), "web"),    // near dup of 1
      (4L, mkText(4), "web"),
      (5L, mkText(5), "books"),
      (6L, mkText(6), "books"),
      (7L, mkText(7), "books"),
      (8L, "tiny doc", "books"),       // sub-ngram (2 tokens < ngram 3)
      (9L, null, "web"),               // rejected: null
      (10L, "solo", "web"))))          // rejected: 1 token < minTokens
    assert(r == IngestReport(10, 2, 2, 6, Nil))
    assert(corpusIds(m) == Set(1L, 4L, 5L, 6L, 7L, 8L))
    val man = m.readManifest().get
    assert(man.generation == 1 && man.nDocs == 6 && man.numBuckets == 4)
    intercept[IllegalArgumentException] { m.ingestInitial(docs(Nil)) }
  }

  test("an input that changes between scans fails the reject count loudly") {
    val m = new CorpusManager("cm_nondet", tmpDir("cmnd"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq((1L, mkText(1), "web"), (4L, mkText(4), "web"))))
    // a source that yields each doc only the FIRST time it is scanned:
    // the gates pin all three, the raw-input rescan counts none — the
    // broken determinism contract a clamped count used to hide
    val firstSight = CorpusManagerSpec.firstSight()
    val shard = docs(Seq((201L, mkText(5), "web"), (202L, mkText(6), "web"),
      (203L, mkText(9), "books")))
      .filter(firstSight(col("doc_id")))
    val e = intercept[IllegalStateException](m.ingestShard(shard))
    assert(e.getMessage.contains("3 rows passed the ingest gates") &&
      e.getMessage.contains("counts only 0"), e.getMessage)
    assert(corpusIds(m) == Set(1L, 4L)) // nothing committed
  }

  test("gopherGate rejects rule-violating docs at ingest; off by default") {
    // passes all four rules: 24 tokens, two stopwords, 4-7 char words,
    // max repetition 2 ≤ 24/8
    val good = ((0 until 11).flatMap(i => Seq(s"word$i", s"item$i")) ++
      Seq("the", "of")).mkString(" ")
    val stutter = Seq.fill(30)("spam").mkString(" ")   // dominance + stopwords
    val tiny = "the of tiny doc"                       // token count
    val gated = new CorpusManager("cm_gg", tmpDir("cmgg"), spark,
      numBuckets = 4, minTokens = 2, gopherGate = true)
    val r = gated.ingestInitial(docs(Seq(
      (1L, good, "web"), (2L, stutter, "web"), (3L, tiny, "web"))))
    assert(r.rejected == 2 && corpusIds(gated) == Set(1L))
    // same docs, gate off: only the minTokens baseline applies
    val open = new CorpusManager("cm_gg2", tmpDir("cmgg2"), spark,
      numBuckets = 4, minTokens = 2)
    open.ingestInitial(docs(Seq(
      (1L, good, "web"), (2L, stutter, "web"), (3L, tiny, "web"))))
    assert(corpusIds(open) == Set(1L, 2L, 3L))
    // the gate decision is exactly the q92 predicate
    import graft.functions.TextFunctions
    val flags = docs(Seq((1L, good, "web"), (2L, stutter, "web"),
        (3L, tiny, "web")))
      .select(col("doc_id"),
        TextFunctions.gopherKept(col("text"),
          Seq("the", "a", "of", "and")).as("kept"))
      .collect().map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("shard ingest: cross/intra/transitive/exact dedup, drift, appends") {
    val m = new CorpusManager("cm_spec2", tmpDir("cm2"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq(
      (1L, mkText(1), "web"), (4L, mkText(4), "web"),
      (5L, mkText(5), "books"), (6L, mkText(6), "books"),
      (7L, mkText(9), "books"), (8L, "tiny doc", "books"))))

    val r = m.ingestShard(docs(Seq(
      (101L, near(mkText(4)), "web"),          // near dup of corpus 4
      (102L, "tiny doc", "books"),             // exact dup of sub-ngram corpus 8
      (103L, reorder(mkText(4)), "web"),       // fresh (vocab ⊆ corpus web)
      (104L, near(reorder(mkText(4))), "web"), // intra-shard dup of 103
      (105L, near(near(mkText(6))), "books"),  // chain: 105 ≈ 106 ≈ corpus 6
      (106L, near(mkText(6)), "books"),
      (107L, reorder(mkText(9)), "books"),     // fresh (vocab ⊆ corpus books)
      (108L, null, "web"))))                   // rejected
    assert(r.input == 8 && r.rejected == 1)
    assert(r.ingested == 2 && r.duplicates == 5)
    assert(corpusIds(m) == Set(1L, 4L, 5L, 6L, 7L, 8L, 103L, 107L))
    // keeper vocab ⊆ corpus vocab and sketchK ≫ |vocab| → the KMV
    // containment estimate is EXACT (every hash is among the k minima)
    assert(r.drift.map(_.source).toSet == Set("web", "books"))
    assert(r.drift.forall(d => !d.novelSource && d.containmentEst == 1.0
      && d.jaccardEst > 0.0))

    // second shard dedups against FIRST-shard appends (107) and admits a
    // never-seen source through the drift path as novel
    val r2 = m.ingestShard(docs(Seq(
      (201L, near(reorder(mkText(9))), "books"),
      (202L, mkText(202), "code"))))
    assert(r2.ingested == 1 && r2.duplicates == 1)
    assert(corpusIds(m).contains(202L) && !corpusIds(m).contains(201L))
    assert(r2.drift.find(_.source == "code").exists(_.novelSource))
    val man = m.readManifest().get
    assert(man.generation == 3 && man.nDocs == 9) // 6 initial + 2 + 1

    // FULL id overlap with identical content = a replayed, committed
    // batch (streaming crash-after-commit) → no-op report (the docs
    // count as duplicates — they are already present), stream moves on
    val replay = m.ingestShard(docs(Seq((103L, reorder(mkText(4)), "web"))))
    assert(replay.ingested == 0 && replay.duplicates == 1)
    assert(m.readManifest().get.nDocs == 9)
    // overlap with DIFFERENT content = genuine id reuse → error
    intercept[IllegalArgumentException] {
      m.ingestShard(docs(Seq((103L, mkText(300), "web"),
        (9999L, mkText(301), "web"))))
    }
  }

  test("replay of a committed batch with dedup-dropped docs does not wedge") {
    val m = new CorpusManager("cm_spec11", tmpDir("cm11"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq((1L, mkText(1), "web"))))
    // batch: 101 fresh, 102 near-dup of corpus 1 — 102 is DROPPED at
    // commit, so a replay sees only a PARTIAL id overlap
    val batch = docs(Seq((101L, mkText(7), "web"), (102L, near(mkText(1)), "web")))
    val r1 = m.ingestShard(batch)
    assert(r1.ingested == 1 && r1.duplicates == 1)
    // replay (crash between manifest commit and checkpoint commit): the
    // remainder re-enters dedup, re-drops against its committed
    // canonical, and the batch no-ops instead of wedging the stream
    val r2 = m.ingestShard(batch)
    assert(r2.ingested == 0 && r2.duplicates == 2)
    assert(corpusIds(m) == Set(1L, 101L))
    // same id, different content is still a loud failure
    intercept[IllegalArgumentException] {
      m.ingestShard(docs(Seq((101L, mkText(13), "web"))))
    }
  }

  test("streaming ingest: per-batch shard dedup, file-level exactly-once") {
    val m = new CorpusManager("cm_spec4", tmpDir("cm4"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq(
      (1L, mkText(1), "web"), (2L, mkText(2), "web"))))
    val drop = tmpDir("cm4drop")
    val ckpt = tmpDir("cm4ckpt")
    val schema = docs(Nil).schema
    var reports = Vector.empty[(Long, IngestReport)]
    val collect = (id: Long, r: IngestReport) => { reports :+= (id -> r) }

    // run 1: shard A — a corpus dup and a fresh doc
    docs(Seq((101L, near(mkText(1)), "web"), (102L, mkText(102), "web")))
      .write.mode("append").parquet(drop)
    m.ingestStream(drop, schema, ckpt, onBatch = collect)
    assert(corpusIds(m) == Set(1L, 2L, 102L))
    assert(reports.map(_._2.ingested) == Vector(1L))

    // run 2 (same checkpoint): only shard B is new; its dup of the
    // RUN-1 ingest (102) is caught by the appended artifacts
    docs(Seq((201L, near(mkText(102)), "web"), (202L, mkText(202), "web")))
      .write.mode("append").parquet(drop)
    m.ingestStream(drop, schema, ckpt, onBatch = collect)
    assert(corpusIds(m) == Set(1L, 2L, 102L, 202L))
    assert(reports.map(_._2.ingested) == Vector(1L, 1L))

    // run 3: nothing new landed → nothing processed (exactly-once)
    m.ingestStream(drop, schema, ckpt, onBatch = collect)
    assert(reports.size == 2 && corpusIds(m) == Set(1L, 2L, 102L, 202L))
  }

  test("streaming ingest recovers from a crash between appends and checkpoint") {
    val m = new CorpusManager("cm_spec9", tmpDir("cm9"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq((1L, mkText(1), "web"))))
    val drop = tmpDir("cm9drop")
    val ckpt = tmpDir("cm9ckpt")
    val schema = docs(Nil).schema
    docs(Seq((101L, mkText(101), "web"))).write.mode("append").parquet(drop)
    // crash AFTER the batch fully ingested but BEFORE the checkpoint
    // commit — the worst-case window the replay contract exists for
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      m.ingestStream(drop, schema, ckpt, onBatch = (_, _) => sys.error("crash"))
    }
    assert(corpusIds(m) == Set(1L, 101L)) // batch landed pre-crash
    // restart: the replayed batch no-ops (full id overlap), the stream
    // moves past it, and genuinely new files still ingest — no dups
    docs(Seq((201L, mkText(201), "web"))).write.mode("append").parquet(drop)
    var reports = Vector.empty[IngestReport]
    m.ingestStream(drop, schema, ckpt,
      onBatch = (_, r) => { reports :+= r })
    assert(corpusIds(m) == Set(1L, 101L, 201L))
    assert(reports.map(_.ingested).sorted == Vector(0L, 1L))
    assert(m.readManifest().get.nDocs == 3)
  }

  test("compaction swaps pinned artifacts atomically; vacuum reclaims retired files") {
    val m = new CorpusManager("cm_spec5", tmpDir("cm5"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq((1L, mkText(1), "web"), (2L, mkText(2), "web"))))
    m.ingestShard(docs(Seq((101L, mkText(101), "web"))))
    m.ingestShard(docs(Seq((111L, mkText(111), "web"))))
    val before = corpusIds(m)
    // a reader pinned to the PRE-compaction manifest: its file list is
    // resolved now, collected after the compaction commit
    val pinnedReader = m.corpus()
    val filesBefore = m.snapshotFiles().get
    val man = m.compactArtifacts(partitions = 2)
    assert(man.generation == 4 && man.nDocs == 4 && man.bandsVersion == 2)
    assert(corpusIds(m) == before)
    // no maintenance window: the pinned reader still sees its snapshot
    // (old files retired from the manifest, not deleted)
    assert(pinnedReader.count() == 4)
    // compaction replaced every pinned list (nothing carried over)
    val filesAfter = m.snapshotFiles().get
    assert(filesAfter.docs.toSet.intersect(filesBefore.docs.toSet).isEmpty)
    assert(filesAfter.docs.size == 2 && filesAfter.sketch.size == 1)
    // dedup against compacted artifacts still works (near-dup of a
    // shard-era doc; its bands went through the re-bucketing)
    val r = m.ingestShard(docs(Seq((201L, near(mkText(111)), "web"))))
    assert(r.ingested == 0 && r.duplicates == 1)
    // vacuum to the latest generation: pre-compaction files (including
    // the retired bands_v1 dir + catalog entry) are reclaimed, the
    // corpus is unchanged, and dedup still works
    val removed = m.vacuum(retainLast = 1)
    assert(removed.exists(_.startsWith("docs/")))
    assert(removed.exists(_.contains("bands_v1")))
    assert(!spark.catalog.tableExists("cm_spec5_bands_v1"))
    assert(corpusIds(m) == before)
    assert(m.ingestShard(docs(Seq((301L, near(mkText(101)), "web"))))
      .duplicates == 1)
  }

  test("an orphaned generation claim is skipped, not wedged on") {
    val m = new CorpusManager("cm_spec6", tmpDir("cm6"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq((1L, mkText(1), "web"))))
    // a crashed commit left its claim without moving the pointer
    val fs = new org.apache.hadoop.fs.Path(m.docsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(
      m.docsPath.stripSuffix("/docs") + "/_gens/g000002.json")
    fs.mkdirs(claim.getParent)
    fs.create(claim, false).close()
    // the next ingest skips the orphaned number instead of failing forever
    assert(m.ingestShard(docs(Seq((50L, mkText(50), "web")))).ingested == 1)
    assert(m.readManifest().get.generation == 3)
  }

  test("lock excludes concurrent ingests; a crashed append is invisible and vacuumable") {
    val m = new CorpusManager("cm_spec7", tmpDir("cm7"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq((1L, mkText(1), "web"))))
    // a live (or crashed) writer holds the lock → fail fast, no writes
    val fs = new org.apache.hadoop.fs.Path(m.docsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(
      m.docsPath.stripSuffix("/docs") + "/_ingest.lock")
    fs.create(lock, false).close()
    intercept[java.util.ConcurrentModificationException] {
      m.ingestShard(docs(Seq((60L, mkText(60), "web"))))
    }
    fs.delete(lock, false)
    // a crash BEFORE the manifest commit leaves appended files as
    // reader-invisible orphans: the corpus is byte-identical
    // (seed 77: mkText depends on seed % 30, so avoid ≡ 1 — that would
    // be a genuine exact dup of corpus doc 1)
    docs(Seq((301L, mkText(77), "web"))).write.mode("append").parquet(m.docsPath)
    assert(corpusIds(m) == Set(1L))
    assert(m.readManifest().get.nDocs == 1)
    // the same doc re-ingests cleanly — no phantom id collision, no
    // phantom dup — and later dedup sees the committed copy
    assert(m.ingestShard(docs(Seq((301L, mkText(77), "web")))).ingested == 1)
    val r = m.ingestShard(docs(Seq((401L, near(mkText(77)), "web"))))
    assert(r.ingested == 0 && r.duplicates == 1)
    // vacuum reclaims the orphaned file; the corpus is untouched
    val removed = m.vacuum(retainLast = 1)
    assert(removed.exists(_.startsWith("docs/")))
    assert(corpusIds(m) == Set(1L, 301L))
  }

  test("orphaned dedup artifacts cannot phantom-drop a future shard doc") {
    // a crashed ingest that appended HASHES (or sigs/bands) but never
    // committed must not make a later shard doc with the same text look
    // like a dup of a doc that is not in the corpus — the pinned-list
    // reads are a correctness guard, not just hygiene
    val m = new CorpusManager("cm_spec10", tmpDir("cm10"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs(Seq((1L, mkText(1), "web"))))
    val s = spark
    import s.implicits._
    Seq((999L, mkText(42))).toDF("doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("h"))
      .write.mode("append").parquet(m.hashesPath)
    // same text as the orphan's: with an unpinned hash read this would
    // pair (500, 999), taint the cluster, and silently drop 500
    val r = m.ingestShard(docs(Seq((500L, mkText(42), "web"))))
    assert(r.ingested == 1 && r.duplicates == 0)
    assert(corpusIds(m) == Set(1L, 500L))
  }

  test("fully-disjoint vocab drifts to containment 0 (no crash at small k)") {
    // sketchK=4 < corpus vocab, so a fully drifted shard can have NO
    // minima inside the union's k minima — the 0/0 hazard case
    val m = new CorpusManager("cm_spec8", tmpDir("cm8"), spark,
      numBuckets = 4, minTokens = 2, sketchK = 4,
      minVocabContainment = Some(0.9))
    m.ingestInitial(docs(Seq(
      (1L, mkText(1), "web"), (2L, mkText(2), "web"), (3L, mkText(3), "web"))))
    val ex = intercept[VocabDriftException] {
      m.ingestShard(docs(Seq(
        (50L, (0 until 12).map(i => s"zz$i").mkString(" "), "web"))))
    }
    assert(ex.getMessage.contains("web"))
  }

  test("blocklist decontamination gate rejects contaminated docs at ingest, exactly") {
    val s = spark; import s.implicits._
    val root = tmpDir("cmblock")
    // blocklist = every 3-gram of seed-1's text (a "benchmark" doc)
    val blocked = mkText(1).split(" ").sliding(3)
      .map(_.mkString(" ")).toSeq.toDF("g")
    val m = new CorpusManager("cm_bl", root, spark, numBuckets = 4,
      minTokens = 2, blocklist = Some(blocked), maxContamination = 0.5)
    // doc 1 IS the benchmark text (contamination 1.0 -> rejected);
    // doc 2 shares no 3-gram (clean); doc 3 fails the quality gate —
    // both reject classes must land in `rejected` together
    val r = m.ingestInitial(docs(Seq(
      (1L, mkText(1), "web"),
      (2L, mkText(9), "web"),
      (3L, "solo", "web"))))
    assert(r.rejected == 2, s"benchmark copy + short doc, got ${r.rejected}")
    assert(r.ingested == 1)
    assert(corpusIds(m) == Set(2L))
    // shard path runs the same gate: a half-contaminated doc (5 of 10
    // 3-grams blocked = 0.5, NOT > 0.5) survives; a fully-blocked one dies
    val half = (mkText(1).split(" ").take(7) ++ Seq("q1", "q2", "q3", "q4", "q5"))
      .mkString(" ")
    val r2 = m.ingestShard(docs(Seq(
      (10L, half, "web"),
      (11L, mkText(1), "web"))))
    assert(r2.ingested == 1 && r2.rejected == 1,
      s"got ingested=${r2.ingested} rejected=${r2.rejected}")
    assert(corpusIds(m) == Set(2L, 10L))
    // unconfigured manager on the same store: gate is a no-op
    val m2 = new CorpusManager("cm_bl", root, spark, numBuckets = 4,
      minTokens = 2)
    assert(m2.ingestShard(docs(Seq((12L, mkText(1), "web")))).ingested == 1)
  }

  test("drift gate aborts before any write") {
    val m = new CorpusManager("cm_spec3", tmpDir("cm3"), spark,
      numBuckets = 4, minTokens = 2, minVocabContainment = Some(0.8))
    m.ingestInitial(docs(Seq(
      (1L, mkText(1), "web"), (2L, mkText(2), "web"))))
    val before = corpusIds(m)
    val ex = intercept[VocabDriftException] {
      m.ingestShard(docs(Seq(
        (50L, (0 until 12).map(i => s"zz$i").mkString(" "), "web"))))
    }
    assert(ex.getMessage.contains("web"))
    assert(corpusIds(m) == before) // corpus byte-identical after abort
    assert(m.readManifest().get.generation == 1) // no generation consumed
    // the same shard passes when the gate is off — proving the gate,
    // not dedup, was the rejector
    val m2 = new CorpusManager("cm_spec3", m.docsPath.stripSuffix("/docs"),
      spark, numBuckets = 4, minTokens = 2)
    assert(m2.ingestShard(docs(Seq(
      (50L, (0 until 12).map(i => s"zz$i").mkString(" "), "web")))).ingested == 1)
  }
}

object CorpusManagerSpec {
  /** Nondeterministic filter, true the first time it sees each id in
    * this JVM (local-mode executors share it) and false afterwards. */
  def firstSight(): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val key = java.util.UUID.randomUUID().toString
    org.apache.spark.sql.functions.udf((id: Long) => seen.add(s"$key/$id"))
      .asNondeterministic()
  }
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
