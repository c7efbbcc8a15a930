package graft.etl

import graft.{ScaleData, SparkSpec}
import org.apache.spark.sql.DataFrame

/** Perceptual media dedup at corpus ingest: near-identical images with
  * FRESH texts dedup through the media signal alone, across initial
  * batch, shard-vs-corpus, compaction, and vacuum. */
class MediaDedupSpec extends SparkSpec {

  private def p5(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    header ++ Array.tabulate(w * h)(i => (pix(i % w, i / w) & 0xff).toByte)
  }

  private def img(seed: Int): Array[Byte] = p5(64, 64, (x, y) => {
    val s = new scala.util.Random(seed * 7919 + x / 8 * 31 + y / 8).nextInt(200)
    (s + (x + y) % 16) % 255
  })

  /** seed's image with one 4×4 patch nudged — a perceptual near-dup. */
  private def imgNear(seed: Int): Array[Byte] = p5(64, 64, (x, y) => {
    val s = new scala.util.Random(seed * 7919 + x / 8 * 31 + y / 8).nextInt(200)
    (s + (x + y) % 16) % 255 +
      (if (x >= 20 && x < 24 && y >= 40 && y < 44) 10 else 0)
  })

  // splitmix-mixed pixels for the WIDE-scheme tests: the Random-based
  // generator above is fine at the narrow radius 3 (distinct images > 3
  // apart) but its weak scrambler correlates nearby seeds' block grids,
  // which the 252-bit hash's radius-16 gate could read as a merge — the
  // wide tests need the iid-block generator (the `Probe scale media` one)
  private def imgW(seed: Int): Array[Byte] = ScaleData.img(seed, patch = false)
  private def imgNearW(seed: Int): Array[Byte] = ScaleData.img(seed, patch = true)

  private def text(seed: Int): String =
    (0 until 12).map(j => s"m${seed}x$j").mkString(" ")

  private def docs(rows: Seq[(Long, String, String, Array[Byte])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source", "img")
  }

  private def ids(m: CorpusManager): Set[Long] =
    m.corpus().select("doc_id").collect().map(_.getLong(0)).toSet

  test("media near-dups with fresh texts dedup across initial, shard, compaction") {
    val root = tmpDir("cmmedia")
    val m = new CorpusManager("cm_media", root, spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"))
    // initial: 1 and 2 share a near-identical image, texts fully fresh;
    // 3 has its own image; 4's bytes are undecodable (no media signal)
    val r0 = m.ingestInitial(docs(Seq(
      (1L, text(1), "web", img(1)),
      (2L, text(2), "web", imgNear(1)),
      (3L, text(3), "web", img(3)),
      (4L, text(4), "web", "not an image".getBytes))))
    assert(r0.ingested == 3 && r0.duplicates == 1, r0.toString)
    assert(ids(m) == Set(1L, 3L, 4L))

    // shard: 10 reuses doc 3's image (near) with fresh text — must drop
    // via the PINNED corpus hash table; 11 is fresh on every signal
    val r1 = m.ingestShard(docs(Seq(
      (10L, text(10), "web", imgNear(3)),
      (11L, text(11), "web", img(11)))))
    assert(r1.duplicates == 1 && r1.ingested == 1, r1.toString)
    assert(ids(m) == Set(1L, 3L, 4L, 11L))

    // compaction rewrites the media artifact; the signal still works
    m.compactArtifacts()
    val r2 = m.ingestShard(docs(Seq(
      (20L, text(20), "web", imgNear(11)),
      (21L, text(21), "web", img(21)))))
    assert(r2.duplicates == 1 && r2.ingested == 1, r2.toString)
    assert(ids(m) == Set(1L, 3L, 4L, 11L, 21L))

    // vacuum after compaction: corpus intact, dedup still works, and
    // the superseded block-store version is retired (dir and catalog
    // table) while the live one survives
    m.vacuum(retainLast = 1)
    assert(ids(m) == Set(1L, 3L, 4L, 11L, 21L))
    assert(m.readManifest().get.mediaBlocksVersion == 2)
    assert(!new java.io.File(s"$root/media_blocks/v1").exists())
    assert(!spark.catalog.tableExists("cm_media_media_blocks_v1"))
    assert(new java.io.File(s"$root/media_blocks/v2").exists())
    assert(spark.catalog.tableExists("cm_media_media_blocks_v2"))
    val r3 = m.ingestShard(docs(Seq((30L, text(30), "web", imgNear(21)))))
    assert(r3.duplicates == 1 && r3.ingested == 0, r3.toString)
  }

  test("wide media scheme (252-bit): full lifecycle with the same planted outcomes") {
    // the SAME fixture as the scheme-1 lifecycle test, run under
    // mediaScheme = 2 at the wide radius convention (~4× narrow): the
    // manager must make identical keep/drop decisions through the
    // 252-bit path, stamp the manifest with scheme 2, and write the
    // artifact into the scheme's own dir
    val root = tmpDir("cmmediaw")
    val m = new CorpusManager("cm_mediaw", root, spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"),
      mediaMaxHamming = 16, mediaScheme = 2)
    val r0 = m.ingestInitial(docs(Seq(
      (1L, text(1), "web", imgW(1)),
      (2L, text(2), "web", imgNearW(1)),
      (3L, text(3), "web", imgW(3)),
      (4L, text(4), "web", "not an image".getBytes))))
    assert(r0.ingested == 3 && r0.duplicates == 1, r0.toString)
    assert(ids(m) == Set(1L, 3L, 4L))
    assert(m.readManifest().exists(_.mediaScheme == 2L))
    assert(m.mediaPath.endsWith("media_hashes_s2"))
    assert(new java.io.File(s"$root/media_hashes_s2").exists())
    val r1 = m.ingestShard(docs(Seq(
      (10L, text(10), "web", imgNearW(3)),
      (11L, text(11), "web", imgW(11)))))
    assert(r1.duplicates == 1 && r1.ingested == 1, r1.toString)
    m.compactArtifacts()
    val r2 = m.ingestShard(docs(Seq((20L, text(20), "web", imgNearW(11)))))
    assert(r2.duplicates == 1 && r2.ingested == 0, r2.toString)
    assert(ids(m) == Set(1L, 3L, 4L, 11L))
  }

  test("wide scheme deduplicates AUDIO too (replicated fingerprint, 4x distances)") {
    import graft.multimodal.{Multimodal, SyntheticMedia}
    // the replicated-×4 wide audio hash: a power-of-two gain is a
    // fingerprint identity, so group twins sit at wide distance 0 and
    // distinct groups stay far (~4× the narrow separation)
    val a0 = Multimodal.mediaHashWide(SyntheticMedia.wav(2, 1)).get
    val a0g = Multimodal.mediaHashWide(SyntheticMedia.wav(2, 3)).get
    val a1 = Multimodal.mediaHashWide(SyntheticMedia.wav(5, 1)).get
    assert(a0.sameElements(a0g))
    assert(a0.toSeq == Seq.fill(4)(a0(0)), "audio hash must be the fp replicated")
    val d = (0 until 4).map(i => java.lang.Long.bitCount(a0(i) ^ a1(i))).sum
    assert(d > 16, s"distinct audio groups too close wide: $d")
    val m = new CorpusManager("cm_mediawa", tmpDir("cmmediawa"), spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"),
      mediaMaxHamming = 16, mediaScheme = 2)
    val r0 = m.ingestInitial(docs(Seq(
      (1L, text(1), "web", SyntheticMedia.wav(2, 1)),
      (2L, text(2), "web", SyntheticMedia.wav(2, 3)), // same group, 8x gain
      (3L, text(3), "web", SyntheticMedia.wav(5, 1)))))
    assert(r0.ingested == 2 && r0.duplicates == 1, r0.toString)
    assert(ids(m) == Set(1L, 3L))
    // shard: an image near-dup and an audio twin both drop via the
    // SAME wide artifact (mixed modalities in one hash table)
    val r1 = m.ingestShard(docs(Seq(
      (10L, text(10), "web", SyntheticMedia.wav(5, 2)),
      (11L, text(11), "web", imgW(11)))))
    assert(r1.duplicates == 1 && r1.ingested == 1, r1.toString)
    assert(ids(m) == Set(1L, 3L, 11L))
  }

  test("media scheme mismatch refuses loudly; migrateMediaScheme re-enables ingest") {
    val root = tmpDir("cmmediamig")
    val m1 = new CorpusManager("cm_mediamig", root, spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"))
    val r0 = m1.ingestInitial(docs(Seq(
      (1L, text(1), "web", imgW(1)),
      (3L, text(3), "web", imgW(3)))))
    assert(r0.ingested == 2)
    // a scheme-2 manager on the scheme-1 store: ingest AND compaction
    // refuse before touching any artifact; migrating twice refuses too
    val m2 = new CorpusManager("cm_mediamig", root, spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"),
      mediaMaxHamming = 16, mediaScheme = 2)
    val e = intercept[IllegalStateException] {
      m2.ingestShard(docs(Seq((10L, text(10), "web", imgW(10)))))
    }
    assert(e.getMessage.contains("migrateMediaScheme"))
    intercept[IllegalStateException] { m2.compactArtifacts() }
    assert(ids(m2) == Set(1L, 3L), "refusal must leave the corpus untouched")
    // migrate: recomputes the artifact from the pinned docs' media
    // column, stamps scheme 2, commits a generation
    val man = m2.migrateMediaScheme()
    assert(man.mediaScheme == 2L && man.generation == 2L)
    intercept[IllegalArgumentException] { m2.migrateMediaScheme() } // already at 2
    // the migrated artifact drives shard dedup: a near copy of corpus
    // doc 3's image (fresh text) drops through the wide path
    val r1 = m2.ingestShard(docs(Seq(
      (10L, text(10), "web", imgNearW(3)),
      (11L, text(11), "web", imgW(11)))))
    assert(r1.duplicates == 1 && r1.ingested == 1, r1.toString)
    assert(ids(m2) == Set(1L, 3L, 11L))
    // the scheme-1 manager now refuses: ITS scheme is stale
    intercept[IllegalStateException] {
      m1.ingestShard(docs(Seq((20L, text(20), "web", imgW(20)))))
    }
    // vacuum beyond the retained window reclaims the unpinned
    // old-scheme files (the s1 dir empties; the s2 artifact survives)
    m2.ingestShard(docs(Seq((21L, text(21), "web", imgW(21)))))
    val deleted = m2.vacuum(retainLast = 1)
    assert(deleted.exists(_.startsWith("media_hashes/")),
      s"old-scheme media files not reclaimed: $deleted")
    assert(ids(m2) == Set(1L, 3L, 11L, 21L))
    val r2 = m2.ingestShard(docs(Seq((30L, text(30), "web", imgNearW(21)))))
    assert(r2.duplicates == 1 && r2.ingested == 0, r2.toString)
  }

  test("shard media cross join reads the PERSISTED block store — bucketed, exchange-free, no corpus re-expansion") {
    val m = new CorpusManager("cm_mediapl", tmpDir("cmmediapl"), spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"))
    val r0 = m.ingestInitial(docs(Seq(
      (1L, text(1), "web", img(1)),
      (3L, text(3), "web", img(3)),
      (5L, text(5), "web", img(5)))))
    assert(r0.ingested == 3)
    assert(m.readManifest().exists(man =>
      man.mediaBlocksVersion == 1L && man.mediaRadius == 3L &&
        man.mediaCombo >= 1L), m.readManifest().toString)

    // capture every plan the shard ingest EXECUTES (the
    // DedupPipelineSpec listener pattern): the cross-pair stage runs
    // eagerly inside mediaCrossPairs (localCheckpoint), so the real
    // candidate-join plan is observable; broadcast disabled so the
    // bucketed-SMJ regime (the 100-TB shape) is what executes
    val plans = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.listenerManager.register(listener)
    val r1 = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      m.ingestShard(docs(Seq(
        (10L, text(10), "web", imgNear(3)),
        (11L, text(11), "web", img(11)))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    assert(r1.duplicates == 1 && r1.ingested == 1, r1.toString)
    // the corpus block table name does not substring-match the shard
    // table ("cm_mediapl_media_blocks_v1" vs "..._shard_media_blocks")
    def joinPlans(): Seq[String] = plans.synchronized {
      plans.filter(p => p.contains("cm_mediapl_media_blocks_v1") &&
        p.contains("shard_media_blocks")).toSeq }
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (joinPlans().isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    spark.listenerManager.unregister(listener)
    val jps = joinPlans()
    assert(jps.nonEmpty, "no executed plan joined shard blocks against the corpus block table")
    assert(jps.exists(_.contains("Bucketed: true")),
      s"corpus block scan not bucketed in the EXECUTED plans:\n${jps.mkString("\n---\n")}")
    assert(jps.forall(!_.contains("Exchange hashpartitioning(q")),
      "block rows re-shuffled on the block key in a real plan")
    // the O(corpus)-per-ingest shape this store exists to kill: the
    // cross-join stage must read ONLY the persisted block tables — no
    // Generate (block explosion happens once, at write time) and no
    // scan of the flat hash artifact (which the pre-store shape
    // re-expanded every ingest). The artifact's flat scans (count +
    // orphan-guard semi-join) live in OTHER executions, above the
    // checkpoint, where no Generate can touch them.
    assert(jps.forall(p => !p.contains("Generate")),
      s"cross-join stage re-expands hashes into blocks:\n${jps.mkString("\n---\n")}")
    assert(jps.forall(p => !p.contains("media_hashes")),
      s"cross-join stage scans the flat corpus hash artifact:\n${jps.mkString("\n---\n")}")
  }

  test("block-store layout change (radius) routes to regeneration with a fresh version stamp") {
    val root = tmpDir("cmmediareg")
    val m1 = new CorpusManager("cm_mediareg", root, spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"))
    m1.ingestInitial(docs(Seq(
      (1L, text(1), "web", img(1)), (3L, text(3), "web", img(3)))))
    assert(m1.readManifest().exists(man =>
      man.mediaBlocksVersion == 1L && man.mediaRadius == 3L))
    // same store, tighter radius: the committed layout (radius 3) no
    // longer matches — the next shard ingest must REGENERATE the block
    // store (v2, restamped), never equi-join blocks cut at different
    // widths, and an exact copy (Hamming 0 ≤ 2) must still drop
    val m2 = new CorpusManager("cm_mediareg", root, spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"),
      mediaMaxHamming = 2)
    val r1 = m2.ingestShard(docs(Seq(
      (10L, text(10), "web", img(3)), // exact pixel copy of doc 3's image
      (11L, text(11), "web", img(11)))))
    assert(r1.duplicates == 1 && r1.ingested == 1, r1.toString)
    val man = m2.readManifest().get
    assert(man.mediaBlocksVersion == 2L && man.mediaRadius == 2L,
      man.toString)
    // steady state: a further ingest under the same manager keeps the
    // regenerated layout (no thrash — version stays 2)
    val r2 = m2.ingestShard(docs(Seq((20L, text(20), "web", img(20)))))
    assert(r2.ingested == 1)
    assert(m2.readManifest().get.mediaBlocksVersion == 2L)
  }

  test("fresh metastore RE-ATTACHES the committed block store — no regeneration, bucket spec restored") {
    val m = new CorpusManager("cm_mediaat", tmpDir("cmmediaat"), spark,
      numBuckets = 4, minTokens = 2, mediaCol = Some("img"))
    val r0 = m.ingestInitial(docs(Seq(
      (1L, text(1), "web", img(1)), (3L, text(3), "web", img(3)))))
    assert(r0.ingested == 2)
    assert(m.readManifest().exists(_.mediaBlocksVersion == 1L))
    // simulate a fresh deployment: the catalog entry is per-metastore,
    // the external files are not — DROP TABLE removes only the entry
    spark.sql("DROP TABLE cm_mediaat_media_blocks_v1")
    assert(!spark.catalog.tableExists("cm_mediaat_media_blocks_v1"))
    // the stamps still match, so the next shard ingest must re-attach
    // the v1 store (metadata-only), NOT regenerate it as v2 — and the
    // media signal must still catch the planted near-dup through it
    val r1 = m.ingestShard(docs(Seq(
      (10L, text(10), "web", imgNear(3)),
      (11L, text(11), "web", img(11)))))
    assert(r1.duplicates == 1 && r1.ingested == 1, r1.toString)
    assert(m.readManifest().get.mediaBlocksVersion == 1L,
      s"re-attach regenerated the store: ${m.readManifest()}")
    // the attached entry carries the original bucket spec — the
    // exchange-free join property survives the metastore loss
    val desc = spark.sql("DESCRIBE EXTENDED cm_mediaat_media_blocks_v1")
      .collect().map(r => s"${r.get(0)} ${r.get(1)}").mkString("\n")
    assert(desc.contains("Num Buckets 4"), desc)
    assert(desc.contains("Bucket Columns") && desc.contains("`q`"), desc)
  }

  test("a media-less corpus (mediaCol unset) is unaffected and its manifest reads back") {
    val m = new CorpusManager("cm_nomedia", tmpDir("cmnomedia"), spark,
      numBuckets = 4, minTokens = 2)
    val s = spark
    import s.implicits._
    m.ingestInitial(Seq((1L, text(1), "web"), (2L, text(2), "web"))
      .toDF("doc_id", "text", "source"))
    assert(m.readManifest().exists(_.generation == 1L))
    assert(ids(m) == Set(1L, 2L))
  }
}
