package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

class LlmTextOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("minhash-LSH near-dup join matches the exact prefix-filter join") {
    val exact = LlmTextOps.neardupJaccard.run(spark, sf).collect().toSeq
    val lsh = LlmTextOps.minhashLsh.run(spark, sf).collect().toSeq
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact, "LSH candidates must cover every qualifying pair here")
  }

  test("minhash band sweep: candidate volume shrinks as bands sharpen, recall ordered") {
    val rows = LlmTextOps.minhashSweep.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.length == 3)
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq((16L, 2L), (8L, 4L), (4L, 8L)), "all three splits of 32 perms")
    rows.foreach { case (_, _, cand, hit, exact, recall) =>
      assert(hit <= cand, "verified pairs are a subset of candidates")
      assert(hit <= exact, "can't recover more than the exact set")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(exact > 0L, "sampled half must retain ground-truth pairs")
    }
    // more rows per band = sharper AND = fewer-or-equal candidates and
    // lower-or-equal recall (the S-curve direction)
    val byBands = rows.sortBy(-_._1)
    assert(byBands.map(_._3).sliding(2).forall(s => s.head >= s.last),
      s"candidates must not grow as bands sharpen: $byBands")
    assert(byBands.map(_._6).sliding(2).forall(s => s.head >= s.last),
      s"recall must not grow as bands sharpen: $byBands")
  }

  test("neardup prefix-filter join finds planted near-duplicates") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val base = (1 to 60).map(i => s"w${i % 17} t$i").mkString(" ")
    val nearDup = base.replace("t7", "x7") // one token changed
    val unrelated = (1 to 60).map(i => s"z$i q${i * 3}").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id",
        array_distinct(transform(sequence(lit(0), size($"ts") - 3),
          i => concat_ws(" ", slice($"ts", i + 1, lit(3))))).as("sh"))
    val pairs = LlmTextOps.neardupPlan(docs).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val r = pairs.head
    // one changed token breaks exactly 3 of the 118 shingles on each side
    assert(r.getLong(2).toDouble / r.getLong(3) > 0.9)
  }

  test("containment finds an embedded excerpt that symmetric Jaccard misses") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // doc 2 = a 12-token excerpt of doc 1's 60 tokens: every excerpt shingle
    // is in the host -> containment 1.0, while Jaccard ~ 10/116 << 0.8
    val host = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (20 to 31).map(i => s"w$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, host), (2L, excerpt), (3L, unrelated))
      .toDF("doc_id", "text")
    val sh = LlmTextOps.docShinglesOf(docs)
    val pairs = LlmTextOps.containmentPlan(sh).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)),
      "the excerpt is the small side, the host the big side")
    assert(pairs.head.getAs[Double]("containment") == 1.0)
    // and the symmetric lane rightly does NOT pair them
    assert(LlmTextOps.neardupPlan(sh).collect().isEmpty)
    // direction tie at equal sizes falls back to doc_id order
    val twins = Seq((5L, host), (4L, host)).toDF("doc_id", "text")
    val t = LlmTextOps.containmentPlan(LlmTextOps.docShinglesOf(twins)).collect()
    assert(t.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((4L, 5L)))
  }

  test("simhash pairs all satisfy the hamming bound and include near-dups") {
    val rows = LlmTextOps.simhashPairs.run(spark, sf).collect()
    assert(rows.forall(_.getLong(2) <= 3))
    val exact = LlmTextOps.neardupJaccard.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val simhashPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // SimHash (hamming<=3 of 32 bits) should rediscover most planted
    // shingle-level near-dups; require majority overlap, not equality
    // (the two measures are different by construction).
    assert(exact.nonEmpty)
    assert((exact & simhashPairs).size * 2 > exact.size,
      s"simhash found ${(exact & simhashPairs).size} of ${exact.size} exact pairs")
  }

  test("exact dedup keeps one id per distinct text and counts copies") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val docs = Seq((10L, "a b c"), (11L, "a b c"), (12L, "d e f"))
      .toDF("doc_id", "text")
    val out = docs.groupBy(md5($"text").as("digest"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((10L, 2L), (12L, 1L)))
  }

  test("langid predicts a language for every document deterministically") {
    val a = LlmTextOps.langId.run(spark, sf).collect().toSeq
    val b = LlmTextOps.langId.run(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty && a.forall(_.getString(2).nonEmpty))
  }

  test("winnowing guarantees a shared fingerprint for any shared run of length >= K+W-1") {
    // The MOSS guarantee: two docs sharing a contiguous substring of at
    // least K+W-1 = 11 chars must share >= 1 winnowing fingerprint; two
    // docs with no common 8-gram must share none. Fixture docs go through
    // the real documents.parquet read path.
    import spark.implicits.newLongEncoder
    val shared = "the quick brown fox jumps over it" // 33-char shared run
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    val rows = Seq(
      (1L, s"AAAA $shared BBBB", "en", "t", 0L),
      (2L, s"zzzz qq $shared yy xx", "en", "t", 0L),
      (3L, "completely different content with no overlap at all", "en", "t", 0L),
    )
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = LlmTextOps.winnowFingerprints(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = f.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty, "shared run produced no shared fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty, "disjoint docs share a fingerprint")
  }

  test("native winnow_md5_fps ≡ the declarative HOF form, row for row") {
    // Round-18 A/B pin for the fused native expression: identical
    // (doc_id, fp) multiset AND identical within-array order (both forms
    // dedup in first-occurrence window order) on the REAL sf0.001 corpus
    // plus a multi-byte-codepoint fixture (substr counts codepoints, md5
    // hashes the UTF-8 slice — the boundary the fixture exercises).
    val nat = LlmTextOps.winnowFingerprints(spark, sf)
      .withColumn("pos", monotonically_increasing_id())
    val hof = TextWitnesses.winnowFingerprintsHof(spark, sf)
      .withColumn("pos", monotonically_increasing_id())
    assert(nat.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      hof.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow_nat").toString
    val rows = Seq(
      (1L, "héllo wörld — déjà vu ünïcode grams", "en", "t", 0L),
      (2L, "ascii only plain text with enough length", "en", "t", 0L),
      (3L, "short", "en", "t", 0L), // below K+W-1: excluded by both forms
    )
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n2 = LlmTextOps.winnowFingerprints(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val h2 = TextWitnesses.winnowFingerprintsHof(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(n2 == h2 && n2.nonEmpty && !n2.exists(_._1 == 3L))
  }

  test("native cdc_chunks ≡ the declarative window form, row for row") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // Round-18 A/B pin for the fused native chunker: identical
    // (doc_id, ck, n_toks, h) sets on the REAL sf0.001 corpus plus the
    // edge fixtures the byte-slice argument leans on — repeated spaces
    // (split keeps empty tokens), leading/trailing spaces, a single
    // token, the empty string, and multi-byte codepoints (boundary scan
    // is byte-wise; UTF-8 continuation bytes never equal 0x20).
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    val real = io.Tables.documents(spark, sf).select($"doc_id", $"text")
    assert(key(LlmTextOps.cdcChunkFrameOf(real)) ==
      key(TextWitnesses.cdcChunkFrameHofOf(real)))
    val docs = Seq(
      (0L, (1 to 60).map(i => s"t$i").mkString(" ")),
      (1L, "a  b   c " + (1 to 40).map(i => s"x$i").mkString(" ") + "  "),
      (2L, " héllo wörld — déjà " + (1 to 40).map(i => s"ü$i").mkString(" ")),
      (3L, "solo"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val nat = key(LlmTextOps.cdcChunkFrameOf(docs))
    assert(nat == key(TextWitnesses.cdcChunkFrameHofOf(docs)))
    assert(nat.exists(_._1 == 4L), "empty doc must yield its one empty chunk")
  }

  test("Caches.release() leaves no persisted blocks after the persisting queries run") {
    Caches.release() // clear anything earlier tests registered
    Seq(LlmTextOps.langId, LlmTextOps.neardupJaccard, LlmTextOps.minhashLsh,
      LlmTextOps.dedupCluster)
      .foreach { q =>
        q.run(spark, sf).write.format("noop").mode("overwrite").save()
        Caches.release()
        // cross-query memo frames (Caches.memo) are the ONE documented
        // survivor of release() — another suite's graph_scc build may be
        // live in the shared session; everything else must be gone
        val leaked =
          spark.sparkContext.getPersistentRDDs.keySet -- Caches.memoRddIds
        assert(leaked.isEmpty,
          s"${q.name} left persisted RDDs behind after release(): $leaked")
      }
  }

  test("dedup clustering is transitive and keeps exactly one doc per cluster") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder, newLongEncoder}
    // pair graph: 1-2, 2-3 (A≈B≈C chain, 1 and 3 never directly paired),
    // 10-11 (independent pair); 99 is in no pair.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val out = LlmTextOps.clusterLsOf(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Caches.release()
    assert(out.toSeq == Seq(
      (1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L),
      (10L, 10L, 1L), (11L, 10L, 0L),
      (99L, 99L, 1L),
    ))
  }

  test("clusterLsOf resolves a 120-hop chain (O(log n) rounds)") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder, newLongEncoder}
    // A single path component 0-1-2-...-120: plain neighbor-min propagation
    // needs 120 rounds (the pre-round-6 code capped at 20 and silently
    // returned wrong labels for exactly this shape — templated-boilerplate
    // dedup chains are real); star contraction converges well inside
    // MaxLsRounds. Expected labels match the recursive-CTE oracle
    // semantics analytically: every vertex labels to the component min (0),
    // only vertex 0 keeps; 500 stays a self-labeled singleton.
    val n = 120
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = ((0L to n) :+ 500L).toDF("doc_id")
    val out = LlmTextOps.clusterLsOf(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Caches.release()
    val expected = (0L to n).map(i => (i, 0L, if (i == 0L) 1L else 0L)) :+
      (500L, 500L, 1L)
    assert(out.toSeq == expected)
  }

  test("large-star/small-star: transitivity, singletons, orientation-independence") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder, newLongEncoder}
    // same shape as the fixture above, with pairs in BOTH orientations
    // and a duplicate pair — clusterLsOf must canonicalize internally
    val pairs = Seq((1L, 2L), (3L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val out = LlmTextOps.clusterLsOf(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Caches.release()
    assert(out.toSeq == Seq(
      (1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L),
      (10L, 10L, 1L), (11L, 10L, 0L),
      (99L, 99L, 1L),
    ))
  }

  test("large-star/small-star resolves a 250-hop chain in O(log n) rounds") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder, newLongEncoder}
    // the corpus-scale shape: a duplicate chain deeper than any fixed
    // O(diameter) round budget. The edge-rewriting fixpoint must collapse
    // it to a single min-rooted star well inside MaxLsRounds (observed ~6
    // rounds; a throw here means the alternation is broken).
    val n = 250
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = ((0L to n) :+ 900L).toDF("doc_id")
    val out = LlmTextOps.clusterLsOf(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Caches.release()
    val expected = (0L to n).map(i => (i, 0L, if (i == 0L) 1L else 0L)) :+
      (900L, 900L, 1L)
    assert(out.toSeq == expected)
  }

  test("dedup cluster keep-set plus drop-set partitions the corpus") {
    val out = LlmTextOps.dedupCluster.run(spark, sf)
    val total = graft.io.Tables.documents(spark, sf).count()
    val byKeep = out.groupBy("keep").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.release()
    assert(byKeep.values.sum == total)
    assert(byKeep(1L) > 0 && byKeep.getOrElse(0L, 0L) > 0,
      "corpus has planted near-dups, so some docs must be dropped")
  }

  test("filter cascade assigns the FIRST failing rule as the reason") {
    val out = LlmTextOps.filterCascade.run(spark, sf).collect()
      .map(r => (r.getString(2), r.getLong(3)))
    assert(out.nonEmpty)
    // keep flag is exactly reason == 'keep'
    assert(out.forall { case (reason, keep) =>
      (reason == "keep") == (keep == 1L) })
    val reasons = out.map(_._1).toSet
    assert(reasons.contains("keep") && reasons.size > 1,
      s"cascade should both keep and drop on the corpus: $reasons")
    // every emitted reason is from the cascade's fixed rule alphabet
    val legal = Set("keep", "too_short", "too_long", "low_stopword",
      "repetitive_top", "dup_trigrams", "low_entropy")
    assert(reasons.subsetOf(legal), s"unknown reasons: ${reasons -- legal}")
  }

  test("chunk split: ceil(n/40) chunks, 50-token cap, full coverage") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = LlmTextOps.chunkSplit.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet)
    byDoc.foreach { case (id, cs) =>
      val n = docs(id)
      assert(cs.length == (n + 39) / 40, s"doc $id: ${cs.length} chunks for $n")
      assert(cs.forall(_._3 <= 50), "chunk token cap")
      // stride-40 windows of width 50: token coverage accounting holds
      val covered = cs.map(_._3).sum
      val expected = (0 until cs.length)
        .map(i => math.min(50, n - i * 40)).sum
      assert(covered == expected, s"doc $id coverage $covered vs $expected")
    }
  }

  test("token entropy: 0 for constant docs, ln(n) for all-distinct docs") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val docs = Seq(
      (1L, "a a a a a a a a"),          // constant -> exactly 0
      (2L, "a b c d e f g h"),          // uniform distinct -> ln(8)
      (3L, "a a a a b b c d"),          // mixed -> strictly between
    ).toDF("doc_id", "text")
    // run the registered op's plan over the fixture by swapping the source
    val out = docs
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id", size($"ts").as("n"),
        aggregate(
          transform(array_distinct($"ts"),
            w => round(size(filter($"ts", x => x === w))
              * log(size(filter($"ts", x => x === w))) * 1000000).cast("long")),
          lit(0L), (acc, t) => acc + t).as("s"))
      .select($"doc_id",
        round(log($"n") - $"s".cast("double") / 1e6 / $"n", 6).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.0)
    assert(math.abs(out(2L) - math.log(8)) < 1e-5)
    assert(out(3L) > 0.0 && out(3L) < out(2L))
  }

  test("bpe training: greedy merge, frequency weighting, lexicographic ties") {
    import spark.implicits.{localSeqToDatasetHolder, newStringEncoder}
    // "aaa"×2 + "bc"×1: round 1 must fuse (a,a) with weight 4 (two adjacent
    // positions × word count 2) and rewrite [a,a,a] -> [aa,a] GREEDILY
    // (left-to-right, no overlap — NOT [a,aa]), which round 2 proves by
    // fusing (aa,a) with weight 2; round 3 falls through to (b,c).
    val docs = Seq("aaa aaa", "bc").toDF("text")
    val m = LlmTextOps.bpeTrainOf(docs, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1L, "a", "a", 4L), (2L, "aa", "a", 2L), (3L, "b", "c", 1L)))

    // equal-frequency pairs tie-break lexicographically on (p1, p2)
    val tie = Seq("cd ab").toDF("text")
    val t = LlmTextOps.bpeTrainOf(tie, 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(t.toSeq == Seq((1L, "a", "b", 1L)))

    // encoding side: after the three merges both words are single tokens
    val fin = LlmTextOps.bpeLoop(docs, 3)._2.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(fin("aaa") == Seq("aaa") && fin("bc") == Seq("bc"),
      s"learned vocab must encode the training words fully: $fin")
  }

  test("bpe loop survives pair-supply exhaustion (empty winner must not wipe the vocab)") {
    import spark.implicits.{localSeqToDatasetHolder, newStringEncoder}
    // "ab"×2: round 1 fuses (a,b); rounds 2-3 have NO adjacent pairs left
    // anywhere (every word is one symbol). The empty winner must not wipe
    // the symbol table — encoding must still see both words.
    val docs = Seq("ab ab", "c").toDF("text")
    val (merges, words) = LlmTextOps.bpeLoop(docs, 3)
    val m = merges.map(_.collect().length)
    assert(m == Seq(1, 0, 0), s"rounds past exhaustion emit no winner: $m")
    val fin = words.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(fin == Map("ab" -> Seq("ab"), "c" -> Seq("c")),
      s"vocab must survive the dry rounds intact: $fin")
  }

  test("dup spans: shared substrings merge into one maximal span per doc") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // docs 1 and 2 share a 12-token run (positions 4..15 in doc 1, 1..12 in
    // doc 2); doc 3 is all-unique filler. The 8 duplicated 5-gram starts in
    // doc 1 (4..11) overlap pairwise, so they must merge into exactly ONE
    // span covering 12 tokens — not 8 spans.
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 $shared u4 u5"),
      (2L, s"$shared v1 v2 v3"),
      (3L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val rows = LlmTextOps.dupSpansOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(rows(1L) == ((1L, 12L, 0.705882)), s"doc 1: ${rows(1L)}")
    assert(rows(2L) == ((1L, 12L, 0.8)), s"doc 2: ${rows(2L)}")
    assert(rows(3L) == ((0L, 0L, 0.0)), s"doc 3 has no duplicated grams")
  }

  test("dup spans: two separated shared runs stay two spans") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val runA = (1 to 5).map(i => s"a$i").mkString(" ")
    val runB = (1 to 5).map(i => s"b$i").mkString(" ")
    // doc 1 carries both runs separated by a unique gap wider than the
    // merge adjacency; docs 2 and 3 each duplicate one run
    val docs = Seq(
      (1L, s"$runA x1 x2 x3 x4 x5 x6 $runB"),
      (2L, s"$runA y1 y2 y3 y4 y5"),
      (3L, s"z1 z2 z3 z4 z5 $runB")).toDF("doc_id", "text")
    val r1 = LlmTextOps.dupSpansOf(docs).collect()
      .find(_.getLong(0) == 1L).get
    assert(r1.getLong(2) == 2L, s"two disjoint spans expected: $r1")
    assert(r1.getLong(3) == 10L, s"five tokens covered per run: $r1")
  }

  test("bpe apply encodes unseen words from characters; eval splits are sane") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // train on a corpus where 'ab' dominates; apply to words never seen
    val train = Seq(Tuple1("abab abab ab cd")).toDF("text")
    val (merges, _) = LlmTextOps.bpeLoop(train, 2)
    val held = Seq((1L, "abcd zz")).toDF("doc_id", "text")
    val hw = LlmTextOps.bpeApply(
      held.select(org.apache.spark.sql.functions.split($"text", " ").as("ts"))
        .select(explode($"ts").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("wc"))
        .select($"w", transform(sequence(lit(1), length($"w")),
          i => $"w".substr(i, lit(1))).as("syms"), $"wc"),
      merges).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // 'ab' merged first, so unseen 'abcd' becomes [ab, c, d] (or [ab, cd]
    // if cd won round 2) — either way the learned merge applies to a word
    // training never saw; 'zz' stays characters
    assert(hw("abcd").head == "ab", s"learned merge must apply: ${hw("abcd")}")
    assert(hw("zz") == Seq("z", "z"), s"no merge learned for zz: ${hw("zz")}")
    // corpus-level eval: both splits share the vocabulary, so fertility
    // must be close (no memorization cliff) and compression must be real
    val rows = LlmTextOps.bpeEval.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(rows.keySet == Set("heldout", "train"))
    rows.values.foreach { case (toks, chars, cpt) =>
      assert(toks < chars, "merges must compress below 1 char/token")
      assert(cpt > 1.0)
    }
    val gap = math.abs(rows("heldout")._3 - rows("train")._3)
    assert(gap < 0.05, s"shared-vocab splits must not show a cliff: $rows")
  }

  test("normalize-then-hash dedup collapses case/punct/spacing variants") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val docs = Seq(
      (1L, "The quick brown fox."),
      (2L, "the  quick   brown fox"),   // spacing + case variant of 1
      (3L, "THE QUICK, BROWN FOX!!"),   // punctuation variant of 1
      (4L, "an entirely different doc")).toDF("doc_id", "text")
    val rows = LlmTextOps.normDedupOf(docs).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3)))
    assert(rows.length == 2, s"two normalized groups: ${rows.toSeq}")
    val byKeep = rows.toMap
    assert(byKeep(1L) == ((3L, 3L)),
      s"variants 1..3 collapse to one group with 3 raw forms: ${byKeep(1L)}")
    assert(byKeep(4L) == ((1L, 1L)))
  }

  test("incremental dedup: corpus match outranks delta match, fresh docs pass") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val base = (1 to 60).map(i => s"w${i % 17} t$i").mkString(" ")
    val other = (1 to 60).map(i => s"y${i % 13} u$i").mkString(" ")
    val corpus = Seq((10L, base), (11L, other)).toDF("doc_id", "text")
    val delta = Seq(
      (100L, base.replace("t7", "x7")),  // near-dup of corpus doc 10
      (101L, other.replace("u9", "v9")), // near-dup of corpus doc 11
      (102L, other.replace("u9", "v9")), // ALSO matches 11 -> corpus outranks 101
      (103L, (1 to 60).map(i => s"z$i q${i * 7}").mkString(" ")) // fresh
    ).toDF("doc_id", "text")
    val out = LlmTextOps.incrementalDedupOf(corpus, delta).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(100L) == (("dup_of_corpus", 10L)), s"${out(100L)}")
    assert(out(101L) == (("dup_of_corpus", 11L)), s"${out(101L)}")
    assert(out(102L) == (("dup_of_corpus", 11L)),
      s"a corpus match must outrank the intra-delta twin 101: ${out(102L)}")
    assert(out(103L) == (("new", -1L)), s"${out(103L)}")
  }

  test("incremental dedup: intra-delta duplicate without a corpus match") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val novel = (1 to 60).map(i => s"n${i % 11} m$i").mkString(" ")
    val corpus = Seq((10L, (1 to 60).map(i => s"c$i k${i * 3}").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq((200L, novel), (201L, novel.replace(" m5 ", " p5 ")))
      .toDF("doc_id", "text")
    val out = LlmTextOps.incrementalDedupOf(corpus, delta).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(200L) == (("new", -1L)), "first arrival is the keeper")
    assert(out(201L) == (("dup_in_delta", 200L)), s"${out(201L)}")
  }

  test("native cascade expression matches the declarative verdict row-for-row") {
    // the native one-pass signals (cascade_sigs) must reproduce the HOF
    // pipeline exactly — every doc, every reason, including the quantized
    // entropy boundary — on the full sf0.001 corpus
    val decl = LlmTextOps.filterCascade.run(spark, sf).collect().toSeq
    val nat = LlmTextOps.filterCascadeNative.run(spark, sf).collect().toSeq
    assert(decl.nonEmpty && nat == decl,
      s"native cascade diverged (${nat.size} vs ${decl.size} rows)")
  }
  test("keep-best canonical selection: quality argmax survives, not min-id") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // Docs 0 and 1 are near-identical (Jaccard >= 0.8 on 3-shingles); doc 1
    // is LONGER so its quality score is strictly higher than doc 0's --
    // min-id policy would keep 0, keep-best must keep 1. Doc 5 is a
    // singleton cluster and always keeps itself.
    val shared = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, shared),
      (1L, shared + " extra tail words here"),
      (5L, "completely different vocabulary lives here today"),
    ).toDF("doc_id", "text")
    val out = LlmTextOps.dedupKeepBestOf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out(0L)._1 == out(1L)._1 && out(0L)._1 != out(5L)._1,
      "0 and 1 cluster together, 5 alone")
    assert(out(0L)._2 == 2L && out(5L)._2 == 1L, "cluster sizes")
    assert(out(1L)._3 > out(0L)._3, "doc 1 scores higher quality")
    assert(out(1L)._4 == 1L && out(0L)._4 == 0L,
      "keep-best retains the higher-quality member, not the min id")
    assert(out(5L)._4 == 1L, "singletons keep themselves")
  }
  test("PMI collocations match driver-side counts and rank monotonically") {
    import org.apache.spark.sql.functions._
    val rows = LlmTextOps.pmiColloc.run(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // recompute unigram/bigram counts driver-side from the raw corpus
    val texts = graft.io.Tables.documents(spark, sf)
      .select($"text").collect().map(_.getString(0).split(' ').toSeq)
    val uni = texts.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = texts.flatMap(ws => ws.zip(ws.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totalBigrams = big.values.sum
    for (r <- rows) {
      val (w1, w2, n, c1, c2) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n >= 5, "min-count filter")
      assert(n == big((w1, w2)) && c1 == uni(w1) && c2 == uni(w2))
      assert(r.getLong(5) == n * totalBigrams * 1000000L / (c1 * c2), "pmi ratio")
      assert(r.getLong(6) == 2L * n * 1000000L / (c1 + c2), "dice")
    }
    val ratios = rows.map(_.getLong(5))
    assert(ratios.sorted.reverse.sameElements(ratios), "ranked by ratio desc")
  }

  test("despan apply: every occurrence of a duplicated span is cut, clean docs untouched") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val docs = Seq(
      // docs 0 and 1 share the 5-gram "a1 a2 a3 a4 a5" at different offsets
      (0L, "a1 a2 a3 a4 a5 x y z"),
      (1L, "b1 a1 a2 a3 a4 a5 b2"),
      // unique doc: no duplicated gram anywhere, survives byte-identical
      (2L, "q r s t u v w"),
    ).toDF("doc_id", "text")
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val out = LlmTextOps.despanApplyOf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(0L) == ((8L, 3L, 5L, md5Of("x y z"))),
      s"doc 0 keeps only the tail: ${out(0L)}")
    assert(out(1L) == ((7L, 2L, 5L, md5Of("b1 b2"))),
      s"doc 1 keeps its frame words: ${out(1L)}")
    assert(out(2L) == ((7L, 7L, 0L, md5Of("q r s t u v w"))),
      s"clean doc must be untouched: ${out(2L)}")
  }

  test("phrase search counts adjacent occurrences of the corpus top bigram") {
    val rows = LlmTextOps.phraseSearch.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty && rows.length <= 20)
    // replay: find the top bigram and count adjacency per doc driver-side
    val docs = graft.io.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val bigrams = docs.flatMap(_._2.sliding(2).filter(_.length == 2).map(w => (w(0), w(1))))
    val grouped = bigrams.groupBy(identity).view.mapValues(_.size).toSeq
    val (bw1, bw2) = grouped.sortBy(p => (-p._2, p._1._1, p._1._2)).head._1
    val want = docs.map { case (id, ws) =>
      id -> ws.sliding(2).count(w => w.length == 2 && w(0) == bw1 && w(1) == bw2).toLong
    }.filter(_._2 > 0).sortBy(p => (-p._2, p._1)).take(20)
    assert(rows.toSeq == want.toSeq, s"phrase ($bw1 $bw2)")
  }

  test("greedy LM decoding replays the argmax walk from the top unigram") {
    val rows = LlmTextOps.lmGreedyGen.run(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getString(1))
    assert(rows.map(_._1).toSeq == (0 to 8), "steps 0..8 in order")
    val docs = graft.io.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .map(_.getString(0).split(" ").toSeq)
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.size).toSeq
    val bi = docs.flatMap(_.sliding(2).filter(_.length == 2).map(w => (w(0), w(1))))
      .groupBy(identity).view.mapValues(_.size).toMap
    var cur = uni.sortBy(p => (-p._2, p._1)).head._1
    assert(rows.head._2 == cur, "seed is the most frequent word")
    for (k <- 1 to 8) {
      cur = bi.filter(_._1._1 == cur).toSeq
        .sortBy { case ((_, w2), n) => (-n, w2) }.head._1._2
      assert(rows(k)._2 == cur, s"step $k greedy argmax")
    }
  }

  test("rake keywords: stopword-free islands, deg/freq ppm scores, cap at 4") {
    val rows = LlmTextOps.rakeKeywords.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 10)
    for ((phrase, n, score) <- rows) {
      val ws = phrase.split(" ")
      assert(ws.length <= 4, s"'$phrase' within the RAKE cap")
      assert(!ws.contains("a") && !ws.contains("the"), s"'$phrase' stopword-free")
      assert(n >= 1 && score > 0)
    }
    // scores descend under the (score desc, phrase) tie rule
    val keys = rows.map(r => (-r._3, r._1)).toSeq
    assert(keys == keys.sorted, "deterministic ranking order")
    // single-word phrase sanity: score = deg*1e6/freq >= 1e6 (deg >= freq)
    rows.filter(_._1.indexOf(' ') < 0).foreach { case (p, _, s) =>
      assert(s >= 1000000L, s"'$p' degree at least its frequency")
    }
  }

  test("keyword tagging mines the top-12 bigram dictionary and counts every hit") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // 16 distinct bigrams: "x x"×3, "a b"×2, then 14 singletons — the
    // (count DESC, phrase) tiebreak keeps "b a" and c01..c09→c10, and must
    // cut the four lexicographically-last singletons
    val docs = Seq(
      (1L, "x x x x"),
      (2L, "a b a b"),
      (3L, (1 to 14).map(i => f"c$i%02d").mkString(" ")),
    ).toDF("doc_id", "text")
    val out = LlmTextOps.keywordTagOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = Seq((1L, "x x", 3L), (2L, "a b", 2L), (2L, "b a", 1L)) ++
      (1 to 9).map(i => (3L, f"c$i%02d c${i + 1}%02d", 1L))
    assert(out.toSeq == expected)
  }

  test("unigram segmentation matches a driver-side Viterbi replay") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // frequent pieces get cheap: "abab" should segment into two "ab"s, not chars
    val docs = Seq(
      (1L, "ab ab ab abab banana"),
      (2L, "ab abab cd x bananas"),
    ).toDF("doc_id", "text")
    // replay: piece costs (same double path: ln -> HALF_UP 6dp -> e6 int)
    val words = Seq("ab" -> 4L, "abab" -> 2L, "banana" -> 1L, "cd" -> 1L,
      "x" -> 1L, "bananas" -> 1L)
    val pieceCounts = collection.mutable.Map.empty[String, Long]
    for ((w, wc) <- words; s <- 0 until w.length;
         l <- 1 to math.min(4, w.length - s))
      pieceCounts(w.substring(s, s + l)) =
        pieceCounts.getOrElse(w.substring(s, s + l), 0L) + wc
    val tot = pieceCounts.values.sum.toDouble
    def cost(u: String): Long = {
      val r6 = BigDecimal(-math.log(pieceCounts(u) / tot))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(r6 * 1e6)
    }
    def viterbi(w: String): (Long, Long) = {
      // best (cost, pieces), lexicographic — mirrors the engine fold
      val best = Array.fill(w.length + 1)((Long.MaxValue / 2, Long.MaxValue / 2))
      best(0) = (0L, 0L)
      for (i <- 1 to w.length; s <- math.max(0, i - 4) until i) {
        val cand = (best(s)._1 + cost(w.substring(s, i)), best(s)._2 + 1)
        if (cand._1 < best(i)._1 ||
            (cand._1 == best(i)._1 && cand._2 < best(i)._2)) best(i) = cand
      }
      best(w.length)
    }
    val out = LlmTextOps.unigramSegmentOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val expected = words.sortBy(_._1).map { case (w, wc) =>
      val (c, np) = viterbi(w)
      (w, wc, w.length.toLong, np, c)
    }
    assert(out.toSeq == expected)
    // piece counts stay inside the feasible band: ceil(len/4) .. len
    out.foreach { case (w, _, len, np, _) =>
      assert(np >= (len + 3) / 4 && np <= len, s"'$w' piece count $np") }
    // "abab" is itself a <=4-char piece, so one piece beats two "ab"s
    assert(out.find(_._1 == "abab").get._4 == 1L)
  }

  test("cdc chunks: full driver-side replay; boundaries re-sync after an insertion") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // doc 1 duplicates doc 0 exactly; doc 2 PREPENDS one token to doc 0.
    // Content-defined boundaries depend only on the trailing 3-token
    // window, so doc 2's cuts realign with doc 0's one window after the
    // edit and every later chunk hashes equal — the failure mode aligned
    // fixed-width chunking (llm_dup_chunks) cannot recover from.
    val base = (1 to 60).map(i => s"t$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, "zzz " + base))
    val out = LlmTextOps.cdcChunksOf(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

    // exact replay of the shipped algorithm (md5-60 gear, mod-8 cut rule)
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def chunksOf(text: String): Seq[String] = {
      val ts = text.split(" ")
      val bnd = ts.indices.map { i0 =>
        val i = i0 + 1
        i >= 3 && h60(ts.slice(i - 3, i).mkString(" ")) % 8 == 0
      }
      val cut = bnd.scanLeft(0)((acc, b) => acc + (if (b) 1 else 0))
      ts.indices.groupBy(i0 => cut(i0)).toSeq.sortBy(_._1)
        .map { case (_, is) => is.map(ts).mkString(" ") }
    }
    val all = docs.map { case (id, text) => id -> chunksOf(text) }
    val freq = all.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val expected = all.map { case (id, cs) =>
      val dup = cs.filter(freq(_) > 1)
      id -> ((cs.size.toLong, dup.size.toLong,
        dup.map(_.split(" ").length.toLong).sum))
    }.toMap
    assert(out == expected, s"engine vs replay: $out vs $expected")

    // the replay itself must show the CDC property: several chunks, all of
    // doc 0/1 duplicated, and doc 2 sharing all but its first chunk
    val (n0, d0, t0) = expected(0L)
    assert(n0 >= 3, s"mod-8 cut rule should yield several chunks: $expected")
    assert(d0 == n0 && t0 == 60L, "doc 0 fully duplicated by doc 1")
    val (n2, d2, _) = expected(2L)
    assert(d2 >= n2 - 1, s"all but the head chunk must re-sync: $expected")
    assert(d2 > 0, "insertion must not destroy all sharing")
  }

  test("suffix repeats: adjacency LCP recovers exact maximal repeat lengths") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // docs 1/2 share a 7-token run; doc 3 self-overlaps a 5-token run.
    // Exactly the 5-gram buckets occurring >= 2x appear, each with the
    // EXACT extension length — the readout dup_spans' +-4 slop can't give.
    val docs = Seq(
      (1L, "p1 p2 p3 p4 p5 p6 p7 f1 f2"),
      (2L, "g1 p1 p2 p3 p4 p5 p6 p7 g2"),
      (3L, "m1 m2 m3 m4 m5 m1 m2 m3 m4 m5"))
      .toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("ts"))
    val rows = LlmTextOps.suffixRepeatsOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val p7 = (1 to 7).map(i => s"p$i").mkString(" ")
    assert(rows.toSeq == Seq(
      ("p1 p2 p3 p4 p5", 7L, p7, 2L),
      ("p2 p3 p4 p5 p6", 6L, p7.drop(3), 2L),
      ("m1 m2 m3 m4 m5", 5L, "m1 m2 m3 m4 m5", 2L),
      ("p3 p4 p5 p6 p7", 5L, p7.drop(6), 2L)), s"got: ${rows.toSeq}")
  }

  test("suffix repeats: extension length caps at the 30-token horizon") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val long = (1 to 35).map(i => s"q$i").mkString(" ")
    val docs = Seq((1L, long), (2L, long)).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("ts"))
    val top = LlmTextOps.suffixRepeatsOf(docs).collect().head
    assert(top.getString(0) == "q1 q2 q3 q4 q5" && top.getLong(1) == 30L,
      s"identical 35-token docs must report the 30-token cap: $top")
  }

  test("span corruption is lossless: sentinel splice reconstructs every document") {
    val orig = graft.io.Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = LlmTextOps.spanCorruption.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(rows.length == orig.size, "one corrupted row per document")
    val sentinel = "<extra_id_(\\d+)>".r
    var sawMasked = false
    for ((id, nTok, nMasked, nSpans, input, target) <- rows) {
      assert(nTok == orig(id).split(" ", -1).length.toLong, s"doc $id token count")
      assert(nMasked <= nTok && nSpans <= nMasked, s"doc $id accounting")
      // token accounting: input keeps unmasked + one sentinel per run;
      // target holds one sentinel per run + the masked tokens
      val inToks = if (input.isEmpty) Array.empty[String] else input.split(" ")
      val tgToks = if (target.isEmpty) Array.empty[String] else target.split(" ")
      assert(inToks.length.toLong == nTok - nMasked + nSpans, s"doc $id input len")
      assert(tgToks.length.toLong == nMasked + nSpans, s"doc $id target len")
      // sentinels are numbered 1..n_spans, in order, in BOTH sequences
      val inSent = inToks.collect { case sentinel(k) => k.toLong }
      val tgSent = tgToks.collect { case sentinel(k) => k.toLong }
      assert(inSent.toSeq == (1L to nSpans) && tgSent.toSeq == (1L to nSpans),
        s"doc $id sentinel numbering")
      // THE invariant: splicing each target span back over its sentinel
      // reconstructs the original text exactly (corruption is lossless)
      val spans = scala.collection.mutable.Map[Long, List[String]]()
      var cur = -1L
      tgToks.foreach {
        case sentinel(k) => cur = k.toLong; spans(cur) = Nil
        case w => spans(cur) = spans(cur) :+ w
      }
      val rebuilt = inToks.flatMap {
        case sentinel(k) => spans(k.toLong)
        case w => Seq(w)
      }.mkString(" ")
      assert(rebuilt == orig(id), s"doc $id must reconstruct exactly")
      if (nMasked > 0) sawMasked = true
    }
    assert(sawMasked, "the 5% start rate must mask something in 50 docs")
  }

  test("prefix reuse histogram replays a driver-side group-by") {
    val docs = graft.io.Tables.documents(spark, sf).collect()
      .map(r => r.getString(1).split(" ").take(8))
    val groups = docs.groupBy(_.mkString(" ")).toSeq.map { case (_, g) =>
      (g.length.toLong, g.head.length.toLong) }
    val want = groups.groupBy(_._1).map { case (n, gs) =>
      n -> ((gs.length.toLong, gs.map { case (nd, pl) => (nd - 1) * pl }.sum))
    }
    val got = LlmTextOps.prefixReuse.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"prefix histogram mismatch: $got vs $want")
  }

  test("wordpiece: longest-match greedy, ## continuations, rare pieces fall out of the vocab") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // corpus: aaab x3, ab x1, b x1 -> with MinCount = 3 the piece "ab"
    // (count 1, length 2) is dropped, every substring of aaab survives,
    // and single chars always stay; so greedy gives:
    //   aaab -> [aaab]        (whole word is a vocab piece)
    //   ab   -> [a, ##b]      ("ab" not in vocab; falls back to chars)
    //   b    -> [b]
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab b"))
      .toDF("doc_id", "text")
    val rows = LlmTextOps.wordpieceOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("aaab", 3L, 1L, "aaab"),
      ("ab", 1L, 2L, "a ##b"),
      ("b", 1L, 1L, "b")), s"got: ${rows.toSeq}")
    val again = LlmTextOps.wordpieceOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == again.toSeq, "greedy must be deterministic")
  }

  test("tokenizer agreement: round-trip holds everywhere, counts match the individual lanes") {
    import org.apache.spark.sql.functions.col
    val sf0 = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.documents(spark, sf0)
    val rows = LlmTextOps.tokAgreementOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    // the lossless-segmentation invariant: every word reconstructs
    assert(rows.forall(_._5 == 1L), "roundtrip must hold for every word")
    // all_agree is derived, not asserted globally — but it must be
    // consistent with the three counts on every row
    assert(rows.forall { case (_, b, u, w, _, agree) =>
      agree == (if (b == u && u == w) 1L else 0L) }, "agree flag consistency")
    // piece counts must equal what the individual lanes report
    val wp = LlmTextOps.wordpieceOf(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val uni = LlmTextOps.unigramSegmentOf(docs).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    rows.foreach { case (w, _, u, wnp, _, _) =>
      assert(wp(w) == wnp, s"$w wordpiece count")
      assert(uni(w) == u, s"$w unigram count")
    }
    // a word is never split into more pieces than characters
    val chars = rows.map(_._1).map(w => w -> w.length.toLong).toMap
    rows.foreach { case (w, b, u, wnp, _, _) =>
      assert(b >= 1 && u >= 1 && wnp >= 1)
      assert(b <= chars(w) && u <= chars(w) && wnp <= chars(w), s"$w bounds")
    }
  }
}
