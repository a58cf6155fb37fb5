package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

class MultimodalOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("frames reassemble byte-exactly into the original payload") {
    val media = MultimodalOps.mediaTable(spark, sf)
    val bad = media
      .select($"doc_id", $"payload",
        MultimodalOps.frames($"payload").as("fr"))
      .withColumn("rejoined",
        aggregate($"fr", lit(Array.emptyByteArray), (acc, f) => concat(acc, f)))
      .filter(not($"rejoined" === $"payload"))
      .count()
    assert(bad == 0)
  }

  test("empty payload yields zero frames, not one empty frame") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val rows = Seq((1L, Array.emptyByteArray), (2L, Array[Byte](7)),
        (3L, Array.fill[Byte](33)(1)))
      .toDF("doc_id", "payload")
      .select($"doc_id", size(MultimodalOps.frames($"payload")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("NULL payload yields a NULL frame array, not -1 or a null frame") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val r = Seq(Tuple1(1L)).toDF("doc_id")
      .select(MultimodalOps.frames(
        lit(null).cast(org.apache.spark.sql.types.BinaryType)).as("fr"))
      .select($"fr", size($"fr").as("n"))
      .collect().head
    assert(r.isNullAt(0), "frames(NULL) must be NULL")
  }

  test("decodeHeaders round-trips the synthesized BMP/WAV containers exactly") {
    val decoded = MultimodalOps.decodeHeaders(
      MultimodalOps.mediaBlobs(spark, sf)).collect()
    assert(decoded.nonEmpty)
    decoded.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0) {
        assert(r.getString(1) == "bmp", s"doc $id")
        assert(r.getInt(2) == 64 + (id % 8) * 16, s"doc $id width")
        assert(r.getInt(3) == 48 + (id % 5) * 16, s"doc $id height")
        assert(r.isNullAt(4) && r.isNullAt(5))
      } else {
        assert(r.getString(1) == "wav", s"doc $id")
        assert(r.isNullAt(2) && r.isNullAt(3))
        assert(r.getInt(4) == 8000 + (id % 4) * 4000, s"doc $id rate")
        assert(r.getInt(5) == 1 + (id / 2) % 2, s"doc $id channels")
      }
    }
  }

  test("synthesized BMP bytes are a parseable image header (javax ImageIO-free check)") {
    // independent byte-level check of ONE payload: magic, offsets, sizes
    val row = MultimodalOps.mediaBlobs(spark, sf)
      .filter($"doc_id" === 2L).collect().head
    val b = row.getAs[Array[Byte]]("payload")
    assert(b(0) == 'B' && b(1) == 'M')
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(2) == b.length, "file-size field must equal payload size")
    assert(bb.getInt(10) == 54 && bb.getInt(14) == 40)
    assert(bb.getShort(26) == 1 && bb.getShort(28) == 24) // planes, bpp
  }

  test("feature extraction is deterministic and computes real byte stats") {
    val media = MultimodalOps.mediaTable(spark, sf).limit(50)
    val a = MultimodalOps.extractFeatures(media).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    val b = MultimodalOps.extractFeatures(media).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b)
    // cross-check one row against the text it was encoded from
    val doc = io.Tables.documents(spark, sf)
      .filter($"doc_id" === a.head._1).collect().head
    val bytes = doc.getAs[String]("text").getBytes("UTF-8")
    assert(a.head._2 == bytes.length)
    assert(a.head._3 == bytes.foldLeft(0L)((s, x) => s + (x & 0xff)))
  }

  test("metadata queries agree with payload-derived sizes") {
    val rows = MultimodalOps.bytesStats.run(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = io.Tables.documents(spark, sf)
      .select($"doc_id", length($"text").cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ASCII corpus: utf-8 byte length == char length
    rows.foreach(r => assert(r.getLong(1) == docs(r.getLong(0))))
  }

  test("payload dedup collapses byte-identical assets and prices the saving") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import org.apache.spark.sql.functions._
    // three byte-identical 8-byte assets + one distinct → one group of 3
    // saving 2×8 bytes, one singleton saving 0
    val media = Seq((1L, "AAAAAAAA"), (2L, "AAAAAAAA"), (3L, "AAAAAAAA"),
      (9L, "BBBB")).toDF("doc_id", "s")
      .select($"doc_id", encode($"s", "UTF-8").as("payload"))
    val rows = MultimodalOps.payloadDedupOf(media).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.keySet == Set(1L, 9L))
    assert(rows(1L) == ((3L, 8L, 16L)), s"triple: ${rows(1L)}")
    assert(rows(9L) == ((1L, 4L, 0L)), s"singleton saves nothing: ${rows(9L)}")
  }

  test("shard assignment: per-source prefixes respect the byte budget exactly") {
    val sf = "/root/testdata/sf0.001"
    val rows = MultimodalOps.shardAssign.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val srcBytes = graft.io.Tables.documents(spark, sf)
      .select($"source",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.encode($"text", "UTF-8")).cast("long").as("nb"))
      .groupBy($"source").sum("nb").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nDocs, _) = (rows.map(_._3).sum,
      graft.io.Tables.documents(spark, sf).count())
    assert(nDocs == graft.io.Tables.documents(spark, sf).count(),
      "every asset lands in exactly one shard")
    rows.groupBy(_._1).foreach { case (src, shards) =>
      val ordered = shards.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == ordered.indices.map(_.toLong),
        s"$src: shard_seq is contiguous from 0")
      assert(ordered.map(_._4).sum == srcBytes(src), s"$src: bytes conserved")
      // the defining invariant: a shard's first asset starts at cumulative
      // offset `running`, and its shard id is exactly running DIV budget
      var running = 0L
      ordered.foreach { case (_, seq, _, bytes) =>
        assert(running / 2048 == seq, s"$src shard $seq starts at $running")
        running += bytes
      }
    }
  }

  test("payload simhash: identical blobs pair at hamming 0, band join loses nothing") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val texts = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // byte-identical
      (2L, "zz 9 completely unrelated payload bytes qq xw"),
      (3L, "mm"), // < 4 bytes: no grams, must not crash or appear
    )
    val media = texts.toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val got = MultimodalOps.simhashPayloadOf(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver-side brute force with the same md5-60 gram hash
    def hash60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
        ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
        ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >> 4)
    }
    def simhash(t: String): Long = {
      val votes = Array.fill(32)(0)
      for (i <- 0 to t.length - 4; j <- 0 until 32)
        votes(j) += (if (((hash60(t.substring(i, i + 4)) >> j) & 1L) == 1L) 1 else -1)
      (0 until 32).map(j => if (votes(j) > 0) 1L << j else 0L).sum
    }
    val fps = texts.filter(_._2.length >= 4).map { case (id, t) => id -> simhash(t) }
    val want = (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 1
    } yield (a, b, h.toLong)).toSet
    assert(got == want, s"got $got want $want")
    assert(got.contains((0L, 1L, 0L)), "identical payloads must pair at hamming 0")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "sub-gram doc excluded")
  }

  test("native simhash32 ≡ the declarative explode/agg form on corpus + binary fixtures") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // Round-18 A/B pin for the fused native fingerprint: identical pair
    // sets on the REAL sf0.001 media table, and identical raw fingerprints
    // on TRUE-binary payloads (all byte values incl. 0x00/0xFF — the media
    // table is ASCII by construction, so pin the binary path separately).
    val corpus = MultimodalOps.mediaTable(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs(MultimodalOps.simhashPayloadOf(corpus)) ==
      pairs(DecodeWitnesses.simhashPayloadHofOf(corpus)))
    val bin = Seq(
      (0L, Array.tabulate(64)(i => ((i * 41 + 7) % 256).toByte)),
      (1L, Array.tabulate(64)(i => ((i * 41 + 7) % 256).toByte)),
      (2L, Array[Byte](0, 0, 0, 0, -1, -1, -1, -1, 0x20, 0x7f, -128, 1)),
      (3L, Array[Byte](1, 2, 3)), // < 4 bytes: excluded by both forms
    ).toDF("doc_id", "payload")
    val natF = bin.filter(length($"payload") >= 4)
      .select($"doc_id", call_function("simhash32", $"payload"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hofP = pairs(DecodeWitnesses.simhashPayloadHofOf(bin))
    assert(pairs(MultimodalOps.simhashPayloadOf(bin)) == hofP)
    assert(natF(0L) == natF(1L) && natF.size == 3,
      "identical binary payloads fingerprint equal; sub-gram doc excluded")
  }

  test("shared frames: aligned 32-byte slices count once each, threshold holds") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val block = "0123456789abcdef0123456789abcdef" // exactly 32 bytes
    def blk(s: String): String = (s * 32).take(32)
    // docs 0/1 share their first THREE aligned frames, then diverge;
    // doc 2 shares only two frames with doc 0 (below threshold);
    // doc 3 repeats one shared frame four times — per-doc DISTINCT must
    // keep its overlap with doc 0 at 1, far below threshold.
    val media = Seq(
      (0L, block + blk("a") + blk("b") + blk("c")),
      (1L, block + blk("a") + blk("b") + blk("z")),
      (2L, block + blk("a") + blk("q") + blk("r")),
      (3L, block * 4),
    ).toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val got = MultimodalOps.sharedFramesOf(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, 3L)), s"got $got")
  }

  test("payload near-dup clusters are the transitive closure of the pair graph") {
    val sf = "/root/testdata/sf0.01"
    val pairs = MultimodalOps.simhashPayload.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus contains payload near-dups at sf0.01")
    val out = MultimodalOps.neardupCluster.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // membership = exactly the docs in some pair
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(out.keySet == inPairs, "clustered docs = paired docs")
    // union-find ground truth
    val parent = scala.collection.mutable.Map(inPairs.map(d => d -> d).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    for (d <- inPairs)
      assert(out(d) == find(d), s"doc $d component label")
  }

  test("pHash: engine hash replays exactly in plain JVM DCT; dup payloads pair at hamming 0") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again ok"),
      (2L, "the quick brown fox jumps over the lazy dog again and again ok"),
      (3L, "a completely different sentence with other words entirely here"),
      (4L, "short one"), // < 64 chars -> zero padding path
    ).toDF("doc_id", "text")
    val media = docs.select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val got = MultimodalOps.phashOf(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent JVM replay of the quantized 8x8 DCT-II
    val cl = (for (u <- 0 until 8; x <- 0 until 8)
      yield math.round(math.cos(math.Pi * (2 * x + 1) * u / 16.0) * 1e6)).toArray
    def replay(text: String): Long = {
      val px = (0 until 64).map(k =>
        if (k < text.length) text.charAt(k).toLong else 0L).toArray
      val g = Array.tabulate(64) { i =>
        val u = i >> 3; val y = i & 7
        (0 until 8).map(x => px(8 * x + y) * cl(u * 8 + x)).sum
      }
      val f = Array.tabulate(64) { i =>
        val u = i >> 3; val v = i & 7
        (0 until 8).map(y => g(u * 8 + y) * cl(v * 8 + y)).sum
      }
      val sumac = f.drop(1).sum
      (1 until 64).map(i => if (f(i) * 63L > sumac) 1L << (i - 1) else 0L).sum
    }
    docs.collect().foreach { r =>
      val (id, t) = (r.getLong(0), r.getString(1))
      assert(got(id) == replay(t), s"doc $id pHash must replay exactly")
    }
    assert(got(1L) == got(2L), "identical payloads share the pHash")
    assert(got(1L) != got(3L), "different payloads differ")
    // pairs: the identical pair surfaces at hamming 0 through the band join
    val pairs = MultimodalOps.phashPairsOf(media, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)), s"dup pair missing: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("pHash hamming<=2 pairs: 3-band blocking loses nothing vs brute force") {
    val media = MultimodalOps.mediaTable(spark, sf)
    val hs = MultimodalOps.phashOf(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 2
    } yield (a, b, d.toLong)).toSet
    val got = MultimodalOps.phashPairsOf(media, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"band blocking must be lossless at radius 2: missing ${(brute diff got).take(5)}, extra ${(got diff brute).take(5)}")
    // and it strictly contains the <=1 lane
    val r1 = MultimodalOps.phashPairsOf(media, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r1.subsetOf(got), "radius-2 pairs must contain every radius-1 pair")
    // The one band-join kernel at every (bits, radius) a lane uses, on
    // planted hashes: for each band boundary, variants of one base hash at
    // distance r and r + 1 whose flipped bits straddle that boundary and
    // then reach into as many further bands as the distance allows — at
    // distance r exactly one band stays intact, at r + 1 none does.
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val rng = new scala.util.Random(7)
    for ((bits, r) <- Seq((32, 1), (32, 3), (63, 1), (63, 2))) {
      val nb = r + 1
      val w = (bits + nb - 1) / nb
      val base = rng.nextLong() & ((1L << bits) - 1)
      val flipSets = (for {
        k <- 1 until nb
        straddle <- Seq(Seq(k * w - 1, k * w), Seq(k * w, k * w - 1))
        d <- Seq(r, r + 1)
      } yield {
        val others = (0 until nb).filterNot(b => b == k - 1 || b == k).map(_ * w)
        (straddle ++ others).take(d).toSet
      }).distinct
      val planted = (base +: flipSets.map(_.foldLeft(base)((h, i) => h ^ (1L << i))))
        .zipWithIndex.map { case (h, i) => (i.toLong, h) }
      assert(planted.forall(_._2 >> bits == 0L))
      val bruteP = (for {
        (a, ha) <- planted; (b, hb) <- planted if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= r
      } yield (a, b, d.toLong)).toSet
      val gotP = LlmTextOps.hammingPairsOf(planted.toDF("doc_id", "h"), "h", bits, r)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(gotP == bruteP, s"($bits, $r): missing ${bruteP diff gotP}, extra ${gotP diff bruteP}")
      assert(bruteP.exists(_._3 == r.toLong), s"($bits, $r): no pair planted at distance r")
      assert(planted.exists(p => java.lang.Long.bitCount(p._2 ^ base) == r + 1),
        s"($bits, $r): no variant planted at distance r + 1")
    }
  }

  test("PGM decode parses header fields out of the bytes; malformed -> NULLs") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // a planted 4x8 image with known raster bytes, plus a malformed payload
    val raster = (0 until 32).map(k => ('A' + (k % 26)).toChar).mkString
    val good = s"P5\n4 8\n127\n$raster"
    val media = Seq(
      (1L, good.getBytes("UTF-8")),
      (2L, "NOTPGM at all".getBytes("UTF-8")),
    ).toDF("doc_id", "payload")
    val rows = MultimodalOps.pgmDecodeOf(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val g = rows(1L)
    assert((g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4), g.getLong(5)) ==
      ((4L, 8L, 127L, 32L, raster.map(_.toLong).sum)),
      "planted PGM must parse to its known header + raster checksum")
    val b = rows(2L)
    assert(b.isNullAt(1) && b.isNullAt(2) && b.isNullAt(3) && b.isNullAt(4) && b.isNullAt(5),
      "malformed payload must decode to NULL fields, not throw")
  }

  test("PGM pHash: engine-built payloads parse back; 8x8 identity-downsample replays in JVM") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // 8x8 image: wb = hb = 1, so the downsample is the identity and the
    // hash must equal a driver-side DCT over the raw raster bytes
    val px = (0 until 64).map(k => (32 + (k * 37) % 96).toChar)
    val payload = s"P5\n8 8\n127\n${px.mkString}".getBytes("UTF-8")
    val media = Seq((1L, payload)).toDF("doc_id", "payload")
    val got = MultimodalOps.phashPgmOf(media).collect().head.getLong(1)
    val cl = (for (u <- 0 until 8; x <- 0 until 8)
      yield math.round(math.cos(math.Pi * (2 * x + 1) * u / 16.0) * 1e6)).toArray
    val p = px.map(_.toLong).toArray
    val g2 = Array.tabulate(64) { i =>
      val u = i >> 3; val y = i & 7
      (0 until 8).map(x => p(8 * x + y) * cl(u * 8 + x)).sum
    }
    val f2 = Array.tabulate(64) { i =>
      val u = i >> 3; val v = i & 7
      (0 until 8).map(y => g2(u * 8 + y) * cl(v * 8 + y)).sum
    }
    val sumac = f2.drop(1).sum
    val want = (1 until 64).map(i => if (f2(i) * 63L > sumac) 1L << (i - 1) else 0L).sum
    assert(got == want, "PGM pHash must replay the raw-raster DCT exactly")
  }

  test("PGM downsample block-averages: constant blocks survive, checker means split") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // 16x16 image (wb = hb = 2): each output pixel is the mean of a 2x2
    // tile. Plant tile (0,0) = {40,40,40,40} and tile (0,1) = {40,120,
    // 40,120} -> means 40 and 80; equality with an 8x8 image carrying
    // those means directly proves the downsample is the block mean.
    val w = 16; val h = 16
    val base = Array.fill(w * h)(40)
    // tile (row 0, col 1) covers raster cols 2-3, rows 0-1
    base(2 * 1 + 0 * w + 1) = 120 // (row 0, col 3)
    base(2 * 1 + 1 * w + 1) = 120 // (row 1, col 3)
    val big = s"P5\n$w $h\n127\n${base.map(_.toChar).mkString}".getBytes("UTF-8")
    val means = Array.fill(64)(40)
    means(1) = 80
    val small = s"P5\n8 8\n127\n${means.map(_.toChar).mkString}".getBytes("UTF-8")
    val media = Seq((1L, big), (2L, small)).toDF("doc_id", "payload")
    val hs = MultimodalOps.phashPgmOf(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L),
      "16x16 block-mean downsample must hash like the 8x8 image of its means")
  }

  test("WAV PCM energy: true-binary byte round-trip matches the sample definition; malformed -> no rows") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val texts = Map(2L -> "hello world", 7L -> "abc")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val media = MultimodalOps.wavPcmPayloadOf(docs)
    // the payload is a byte-valid RIFF container with true binary samples
    for ((id, b) <- media.orderBy($"doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))) {
      val n = 64 + (id % 3) * 32
      assert(new String(b, 0, 4, "US-ASCII") == "RIFF", s"doc $id magic")
      assert(new String(b, 36, 4, "US-ASCII") == "data", s"doc $id data tag")
      assert(b.length == 44 + 2 * n, s"doc $id length")
      val dl = (b(40) & 255) | ((b(41) & 255) << 8) |
        ((b(42) & 255) << 16) | ((b(43) & 255) << 24)
      assert(dl == 2 * n, s"doc $id little-endian data length field")
      // negative samples force high-bit bytes: this lane is the one whose
      // payload is NOT ASCII-range by construction
      assert(b.drop(44).exists(x => (x & 255) > 127),
        s"doc $id must carry true binary (two's-complement) sample bytes")
    }
    val rows = MultimodalOps.wavEnergyOf(media)
      .orderBy($"doc_id", $"win_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 0L), (2L, 1L), (2L, 2L), (2L, 3L), (7L, 0L), (7L, 1L), (7L, 2L)),
      "window ids: n=128 -> 4 windows, n=96 -> 3")
    // replay the sample definition in-process: the parsed energies must
    // equal the arithmetic derivation (what the DuckDB oracle computes)
    def sample(id: Long, text: String, k: Long): Long =
      ((text.charAt((k % text.length).toInt).toLong * 131 + k * 17 + id) %
        4001) - 2000
    for (r <- rows) {
      val (id, w) = (r.getLong(0), r.getLong(1))
      val s = (w * 32 until (w + 1) * 32).map(k => sample(id, texts(id), k))
      assert(r.getLong(2) == s.map(x => x * x).sum, s"energy doc $id win $w")
      assert(r.getLong(3) == s.map(math.abs).max, s"peak doc $id win $w")
      assert(r.getLong(4) ==
        (if (s.map(math.abs).max < 500) 1L else 0L), s"silent doc $id win $w")
    }
    // malformed payload: skipped, not thrown
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    assert(MultimodalOps.wavEnergyOf(bad).collect().isEmpty,
      "malformed payload must yield no windows")
  }

  test("WAV zero-crossing rate replays the sample definition; voiced gate combines peak and zcr") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val texts = Map(2L -> "hello world", 7L -> "abc")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val rows = MultimodalOps.wavZcrOf(MultimodalOps.wavPcmPayloadOf(docs))
      .orderBy($"doc_id", $"win_id").collect()
    assert(rows.nonEmpty)
    def sample(id: Long, text: String, k: Long): Long =
      ((text.charAt((k % text.length).toInt).toLong * 131 + k * 17 + id) %
        4001) - 2000
    for (r <- rows) {
      val (id, w) = (r.getLong(0), r.getLong(1))
      val s = (w * 32 until (w + 1) * 32).map(k => sample(id, texts(id), k))
      val zcr = s.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong
      assert(r.getLong(2) == zcr, s"zcr doc $id win $w")
      val voiced = if (s.map(math.abs).max >= 500 && zcr <= 16) 1L else 0L
      assert(r.getLong(3) == voiced, s"voiced doc $id win $w")
    }
    // malformed payload: skipped, not thrown
    val bad = Seq((9L, Array[Byte](82, 73, 70))).toDF("doc_id", "payload")
    assert(MultimodalOps.wavZcrOf(bad).collect().isEmpty)
  }

  test("RLE decode: hand-computed stream, exact consumption, malformed flags") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def pay(s: String) = s.getBytes("UTF-8")
    // literal run of 2 (control chr(2), values 'A','B'), then repeat
    // run: control 'A' = 65 → 65 − 62 = 3 repetitions of 'z'
    val good = "RL1\n" + "\u0002AB" + "Az"
    // dangling control (literal of 2 but only 1 value byte follows)
    val trunc = "RL1\n" + "\u0002A"
    // control 0 is malformed; bad magic too
    val nul = "RL1\n" + "\u0000"
    val magic = "XX1\n" + "\u0002AB"
    val media = Seq(
      (1L, pay(good)), (2L, pay(trunc)), (3L, pay(nul)), (4L, pay(magic)))
      .toDF("doc_id", "payload")
    val rows = MultimodalOps.rleDecodeOf(media).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // (doc, n_bytes, lit_runs, rep_runs, n_pixels, luma_sum, ok)
    assert(rows(0) == ((1L, 9L, 1L, 1L, 5L,
      'A'.toLong + 'B'.toLong + 3L * 'z'.toLong, 1L)), s"good: ${rows(0)}")
    assert(rows(1)._7 == 0L, "dangling literal must flag ok=0")
    assert(rows(1)._5 == 1L, "partial totals still reported")
    assert(rows(2)._7 == 0L, "NUL control must flag ok=0")
    assert(rows(3)._7 == 0L, "bad magic must flag ok=0")
    // generated corpus payloads: every stream consumed exactly
    val gen = MultimodalOps.rleDecodeOf(
      MultimodalOps.rleMediaTable(spark, sf)).collect()
    assert(gen.nonEmpty)
    assert(gen.forall(_.getLong(6) == 1L),
      "every generated payload must decode ok")
    // the byte-automaton's totals must satisfy the stream identity:
    // bytes = 4 (magic) + lit_runs + 2*rep_runs + lit pixels; lit pixels =
    // n_pixels - expanded repeats is not directly visible, but bytes -
    // 4 - lit_runs - 2*rep_runs equals the literal value-byte count <= n_pixels
    assert(gen.forall { r =>
      val litBytes = r.getLong(1) - 4 - r.getLong(2) - 2 * r.getLong(3)
      litBytes >= 0 && litBytes <= r.getLong(4)
    }, "stream-identity accounting")
  }

  test("RLE token ladder: driver SFs at the q=1 floor, divisor doubles with the corpus") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def q(n: Long): Long = MultimodalOps.rleTokDivOf(
      spark.range(n).select($"id".as("doc_id"), lit("xy").as("text")))
      .collect().head.getLong(0)
    assert(q(5000) == 1L, "sf0.1-sized corpus floors at q=1")
    assert(q(100000) == 1L, "floor boundary inclusive")
    assert(q(100001) == 2L, "first doubling")
    assert(q(250000) == 4L, "250k docs -> q=4")
    // empty-text docs are not counted (the oracle's d CTE base)
    val mixed = spark.range(100001).select($"id".as("doc_id"),
      when($"id" === 0L, lit("")).otherwise(lit("xy")).as("text"))
    assert(MultimodalOps.rleTokDivOf(mixed).collect().head.getLong(0) == 1L)
  }

  test("Huffman decode: hand-packed bitstream, bit-exact consumption, malformed flags") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def pay(s: String) = s.getBytes("UTF-8")
    // symbols [2, 0, 7] → codes 110, 0, 1111111 → 11 bits, pad one 1-bit
    // → "110011"=51→'S', "111111"=63→'_'; header m=3 → " #"
    val good = "HF1\n #S_"
    val magic = "XX1\n #S_"
    // m=3 but only one packed char: "110011" decodes sym2, sym0, then a
    // dangling 2-ones run — 2 of 3 symbols, ok must drop
    val trunc = "HF1\n #S"
    // m=2, symbols [2, 0] = "1100", then 0-bits where padding must be 1s:
    // "110000"=48→'P'... chr(32+48)='P'
    val padzero = "HF1\n \"P"
    // '{' is ascii 123 → u=91, outside the 6-bit alphabet
    val badchar = "HF1\n #{_"
    // round-16 ADVICE: an EXTRA all-ones char past the single padded
    // boundary char satisfies the per-bit padding check (u==63) — the
    // packed-length identity (bytes = 6 + ceil(bit_len/6)) must reject it
    val overpad = good + "_"
    val media = Seq((1L, pay(good)), (2L, pay(magic)), (3L, pay(trunc)),
      (4L, pay(padzero)), (5L, pay(badchar)), (6L, pay(overpad)))
      .toDF("doc_id", "payload")
    val rows = MultimodalOps.huffDecodeOf(media).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // (doc, n_bytes, n_syms, value_sum, wsum, bit_len, ok)
    assert(rows(0) == ((1L, 8L, 3L, 9L, 23L, 11L, 1L)), s"good: ${rows(0)}")
    assert(rows(1)._7 == 0L, "bad magic must flag ok=0")
    assert(rows(2)._7 == 0L && rows(2)._3 == 2L,
      "truncated stream: ok=0 with partial symbol count")
    assert(rows(3)._7 == 0L && rows(3)._3 == 2L,
      "0-bit in padding must flag ok=0 after a complete decode")
    assert(rows(4)._7 == 0L, "out-of-alphabet char must flag ok=0")
    assert(rows(5)._7 == 0L && rows(5)._3 == 3L,
      "trailing extra all-ones pad char must fail the length identity")
    // generated corpus payloads: every bitstream consumed exactly, and the
    // packed length identity holds (bytes = 6 header + ceil(bits/6))
    val gen = MultimodalOps.huffDecodeOf(
      MultimodalOps.huffMediaTable(spark, sf)).collect()
    assert(gen.nonEmpty)
    assert(gen.forall(_.getLong(6) == 1L),
      "every generated payload must decode ok")
    assert(gen.forall(r => r.getLong(1) == 6 + (r.getLong(5) + 5) / 6),
      "bit-packing length identity")
    assert(gen.forall(_.getLong(2) >= 8L), "symbol count floor")
  }

  test("LZ decode: hand-packed back-references, overlap semantics, malformed flags") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def pay(s: String) = s.getBytes("UTF-8")
    // T=3: LA, LB, then copy len=3 dist=2 — the classic self-extending
    // walk: "AB" -> "ABA" -> "ABAB" -> "ABABA" (byte-by-byte, source
    // slides with the output)
    val good = "LZ1\n #LALBC# \""
    // copy len=1 dist=5 with only 1 byte of history: past start-of-history
    val diststart = "LZ1\n \"LAC! %"
    // copy token truncated after the length char (no distance bytes)
    val trunc = "LZ1\n \"LAC!"
    val magic = "XZ1\n #LALBC# \""
    // 'X' is not a token tag
    val badtag = "LZ1\n !XA"
    // dist=1 len=5 after one literal: the overlapping-run duplication
    val overlap = "LZ1\n \"LQC% !"
    // header declares 3 tokens, stream carries 2
    val misc = "LZ1\n #LALB"
    val media = Seq((1L, pay(good)), (2L, pay(diststart)), (3L, pay(trunc)),
      (4L, pay(magic)), (5L, pay(badtag)), (6L, pay(overlap)),
      (7L, pay(misc))).toDF("doc_id", "payload")
    val rows = MultimodalOps.lzDecodeOf(media).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // (doc, n_bytes, n_toks, n_copies, out_len, value_sum, wsum, ok)
    assert(rows(0) == ((1L, 14L, 3L, 1L, 5L, 327L, 981L, 1L)),
      s"good: ${rows(0)}")
    assert(rows(1)._8 == 0L && rows(1)._4 == 1L && rows(1)._5 == 1L,
      "distance past start-of-history must flag ok=0 with partial totals")
    assert(rows(2)._8 == 0L, "truncated copy token must flag ok=0")
    assert(rows(3)._8 == 0L, "bad magic must flag ok=0")
    assert(rows(4)._8 == 0L, "unknown token tag must flag ok=0")
    assert(rows(5) == ((6L, 12L, 2L, 1L, 6L, 486L, 1701L, 1L)),
      s"overlap: ${rows(5)}")
    assert(rows(6)._8 == 0L, "header/token count mismatch must flag ok=0")
    // generated corpus payloads: every back-reference resolved cleanly
    val gen = MultimodalOps.lzDecodeOf(
      MultimodalOps.lzMediaTable(spark, sf)).collect()
    assert(gen.nonEmpty)
    assert(gen.forall(_.getLong(7) == 1L),
      "every generated payload must decode ok")
    // stream identity: bytes = 6 header + 2 per literal + 4 per copy
    assert(gen.forall(r =>
      r.getLong(1) == 6 + 2 * r.getLong(2) + 2 * r.getLong(3)),
      "token-encoding length identity")
    assert(gen.forall(r => r.getLong(2) >= 12L && r.getLong(4) >= 12L),
      "preamble + ladder-floor token count")
  }

  test("native rle/huff stream decodes equal their HOF folds on corpus + fixtures") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def pay(s: String) = s.getBytes("UTF-8")
    val rleFix = Seq(
      (1L, pay("RL1\n" + "AB" + "Az")), (2L, pay("RL1\n" + "A")),
      (3L, pay("RL1\n" + " ")), (4L, pay("XX1\n" + "AB")),
      (5L, pay("")), (6L, pay("RL1\n")))
      .toDF("doc_id", "payload")
    val huffFix = Seq(
      (1L, pay("HF1\n #S_")), (2L, pay("XX1\n #S_")), (3L, pay("HF1\n #S")),
      (4L, pay("HF1\n \"P")), (5L, pay("HF1\n #{_")), (6L, pay("HF1\n #S__")),
      (7L, pay("")), (8L, pay("HF1\n")))
      .toDF("doc_id", "payload")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    for ((media, nat, hof) <- Seq(
      (rleFix, MultimodalOps.rleDecodeOf _, DecodeWitnesses.rleDecodeHofOf _),
      (MultimodalOps.rleMediaTable(spark, sf),
        MultimodalOps.rleDecodeOf _, DecodeWitnesses.rleDecodeHofOf _),
      (huffFix, MultimodalOps.huffDecodeOf _, DecodeWitnesses.huffDecodeHofOf _),
      (MultimodalOps.huffMediaTable(spark, sf),
        MultimodalOps.huffDecodeOf _, DecodeWitnesses.huffDecodeHofOf _))) {
      val n = rowsOf(nat(media))
      val h = rowsOf(hof(media))
      assert(n.keySet == h.keySet)
      n.keys.foreach(id => assert(n(id) == h(id),
        s"doc $id: native ${n(id)} != hof ${h(id)}"))
    }
  }

  test("native lz_stream_decode equals the HOF automaton on corpus + malformed fixtures") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def enc(s: String) = s.getBytes("UTF-8")
    // the hand-packed streams of the LZ decode spec, valid and malformed,
    // plus empty/short/garbage payloads the fixture seam allows
    val fixtures = Seq(
      1L -> enc("LZ1\n  LaLbC\" !!"),
      2L -> enc("LZ1\n !La"),
      3L -> enc("LZ1\n \"LaC\" "),
      4L -> enc("XX1\n !La"),
      5L -> enc("LZ1\n !Qa"),
      6L -> enc("LZ1\n $LxC# !!"),
      7L -> enc("LZ1\n !LaLb"),
      8L -> enc(""),
      9L -> enc("LZ"),
      10L -> enc("LZ1\n"),
      11L -> enc("LZ1\n  C! !!"),
      // round-18 (ADVICE): OUT-OF-RANGE copy-length chars — bad is set at
      // the pl char but both automata still keep pl = b-32 and execute
      // the copy when dist resolves valid; these pin native ≡ HOF on
      // exactly that branch (pl = 64, a multi-byte codepoint pl = 201,
      // and a CJK codepoint driving a ~12k-append copy)
      12L -> enc("LZ1\n !LaC` !"),
      13L -> enc("LZ1\n !LaCé !"),
      14L -> enc("LZ1\n !LaCあ !"))
      .toDF("doc_id", "payload")
    val corpus = MultimodalOps.lzMediaTable(spark, sf)
    for (media <- Seq(fixtures, corpus)) {
      val nat = MultimodalOps.lzDecodeOf(media).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val hof = DecodeWitnesses.lzDecodeHofOf(media).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(nat.keySet == hof.keySet)
      nat.keys.foreach(id => assert(nat(id) == hof(id),
        s"doc $id: native ${nat(id)} != hof ${hof(id)}"))
    }
  }

  test("ascii_codes / byte_vals match their built-in elementwise idioms") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val rows = Seq("", "a", "LZ1\nabc", "Customer#000000001",
      "spaces and  low bytes ", "café €")
      .zipWithIndex.map { case (s, i) => (i.toLong, s, s.getBytes("UTF-8")) }
      .toDF("id", "s", "b")
    val bad = rows.select($"id",
        call_function("ascii_codes", $"s").as("ac"),
        transform(split($"s", ""), ch => ascii(ch).cast("long")).as("sp"),
        call_function("byte_vals", $"b").as("bv"),
        // sequence(1, 0) descends in Spark, so guard the empty payload
        when(length($"b") > 0,
          transform(sequence(lit(1), length($"b").cast("int")), i =>
            conv(hex($"b".substr(i, lit(1))), 16, 10).cast("long")))
          .otherwise(array().cast("array<bigint>")).as("cv"))
      .collect()
    bad.foreach { r =>
      val ac = r.getSeq[Long](1)
      val sp = r.getSeq[Long](2)
      // split("") on the empty string yields [""] (ascii 0) — ascii_codes
      // yields []; everywhere else the arrays are identical
      if (r.getLong(0) == 0L) { assert(ac.isEmpty && sp == Seq(0L)) }
      else assert(ac == sp, s"row ${r.getLong(0)}: $ac != $sp")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4),
        s"row ${r.getLong(0)}: byte_vals mismatch")
    }
  }

  test("native dct_phash equals the oracle-mirrored HOF fold (incl. nulls)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // adversarial 64-sample blocks: corpus-shaped ASCII lumas, extremes,
    // sign-mixing, plus the degenerate all-equal block (every AC bit 0)
    val blocks = Seq(
      (0 until 64).map(k => (k * 37 % 96 + 32).toLong),
      (0 until 64).map(k => if (k % 2 == 0) 255L else 0L),
      (0 until 64).map(_ => 91L),
      (0 until 64).map(k => (k * k * 131 + 7).toLong % 256),
      (0 until 64).map(k => -((k * 53) % 200).toLong))
    val df = blocks.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "px")
    val got = df.select($"id",
        call_function("dct_phash", $"px").as("native"),
        DecodeWitnesses.dctHashHof($"px").as("hof"))
      .collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"block ${r.getLong(0)}: native ${r.getLong(1)} != hof ${r.getLong(2)}"))
    // null-propagation contract: null array and wrong length are null
    val edge = Seq((1L, null: Seq[Long]), (2L, Seq(1L, 2L, 3L)))
      .toDF("id", "px")
      .select($"id", call_function("dct_phash", $"px").as("h"))
      .collect()
    assert(edge.forall(_.isNullAt(1)),
      "dct_phash of null / non-64 arrays must be null")
    // and the registered lane end-to-end: PGM pHash values are unchanged
    // relative to the HOF transform wired through the SAME decoded pixels
    // (round-18, ADVICE: compare by value, not just nonEmpty)
    val media = MultimodalOps.pgmMediaTable(spark, sf)
    val nat = MultimodalOps.phashPgmOf(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = MultimodalOps.phashPgmOf(media, DecodeWitnesses.dctHashHof)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat.nonEmpty && nat == hof,
      s"native vs HOF PGM pHash diverge on ${nat.size}/${hof.size} docs")
  }

  test("native block_means64 equals the HOF downsample fold on corpus + fixtures") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def pgm(w: Int, h: Int, px: Seq[Int]) =
      s"P5\n$w $h\n127\n${px.map(_.toChar).mkString}".getBytes("UTF-8")
    val fixtures = Seq(
      // identity downsample (wb = hb = 1)
      1L -> pgm(8, 8, (0 until 64).map(k => 32 + (k * 37) % 96)),
      // 2×2 tiles
      2L -> pgm(16, 16, (0 until 256).map(k => 32 + (k * 53) % 96)),
      // dims NOT multiples of 8: trailing row/col strip outside every tile
      3L -> pgm(10, 9, (0 until 90).map(k => 32 + (k * 41) % 96)),
      // malformed header: the ok-guard nulls the lane in both forms
      6L -> "NOTPGM at all".getBytes("UTF-8"),
      // multi-byte code points in the raster (codePoint semantics)
      7L -> s"P5\n8 8\n127\n${"café€and–more!".padTo(64, 'x')}".getBytes("UTF-8"))
      .toDF("doc_id", "payload")
    val corpus = MultimodalOps.pgmMediaTable(spark, sf)
    for (media <- Seq(fixtures, corpus)) {
      val nat = MultimodalOps.phashPgmOf(media).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val hof = DecodeWitnesses.phashPgmHofOf(media).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(nat.keySet == hof.keySet)
      nat.keys.foreach(id => assert(nat(id) == hof(id),
        s"doc $id: native ${nat(id)} != hof ${hof(id)}"))
    }
    // inputs where the HOF fold THROWS under ANSI (out-of-range
    // element_at / divide-by-zero on degenerate dims): the native is
    // strictly more defined — null blocks, never an error — and the
    // corpus contains no such payload (header-ok implies a complete
    // raster by construction)
    val degenerate = Seq(
      // truncated raster: every tile incomplete
      11L -> pgm(8, 8, (0 until 40).map(k => 32 + k)),
      // dims < 8: wb = 0
      12L -> pgm(4, 8, (0 until 32).map(k => 40 + k)))
      .toDF("doc_id", "payload")
    val dn = MultimodalOps.phashPgmOf(degenerate).collect()
    assert(dn.length == 2 && dn.forall(_.isNullAt(1)),
      "degenerate PGMs must hash to NULL via all-null block means")
  }
}
