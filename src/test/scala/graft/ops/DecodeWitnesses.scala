package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import MultimodalOps.{DctPpm, PgmPat, bindOnce, dctHash, evalOnce, payloadDocs}

/** The higher-order-function forms `MultimodalOps`' native expressions
  * replaced, kept as A/B witnesses:
  *  - the decode automata of `rle_stream_decode`, `huff_stream_decode` and
  *    `lz_stream_decode`: each walks its payload with an interpreted
  *    `aggregate` fold over the same `(doc_id, payload)` frame as the
  *    matching `MultimodalOps.*DecodeOf` fixture seam and yields the same
  *    columns, so `MultimodalOpsSpec` pins native ≡ fold by value on corpus
  *    payloads and hand-packed malformed fixtures;
  *  - the payload builders of `rle_payload`, `huff_payload` and
  *    `lz_payload`, over the same `(docs, div)` inputs as
  *    `MultimodalOps.*PayloadOf` (`MediaPayloadsSpec` compares the bytes);
  *  - the simhash, DCT-hash and PGM block-mean folds of `simhash32`,
  *    `dct_phash` and `block_means64`.
  * Only the specs use them; the registered lanes run the native
  * expressions.
  */
object DecodeWitnesses {

  /** The pre-round-17 higher-order-function automaton — A/B witness. */
  def rleDecodeHofOf(media: DataFrame): DataFrame = {
    val out = bindOnce(decode($"payload", "UTF-8")) { ss =>
      val zero = struct(lit(0L).as("lit_rem"), lit(0L).as("pend"),
        lit(0L).as("px"), lit(0L).as("luma"),
        lit(0L).as("litr"), lit(0L).as("repr"), lit(0L).as("bad"))
      import org.apache.spark.sql.Column
      def next(a: Column, litRem: Column, pend: Column, px: Column,
          luma: Column, litr: Column, repr: Column, bad: Column) =
        struct(litRem.as("lit_rem"), pend.as("pend"), px.as("px"),
          luma.as("luma"), litr.as("litr"), repr.as("repr"), bad.as("bad"))
      // round-17: fold over the native code array — ascii_codes yields
      // exactly the per-char codes the split+ascii form produced, with
      // no zero-width artifacts and no per-char string allocation
      val fin = aggregate(
        call_function("ascii_codes", ss.substr(lit(5), length(ss))),
        zero,
        (a, b) => {
          val (lr, pd) = (a.getField("lit_rem"), a.getField("pend"))
          val (px, lm) = (a.getField("px"), a.getField("luma"))
          val (ltr, rpr, bd) =
            (a.getField("litr"), a.getField("repr"), a.getField("bad"))
          when(pd > 0L, next(a, lr, lit(0L), px + pd, lm + pd * b, ltr, rpr, bd))
            .when(lr > 0L, next(a, lr - 1L, pd, px + 1L, lm + b, ltr, rpr, bd))
            .when(b >= 1L && b <= 63L, next(a, b, pd, px, lm, ltr + 1L, rpr, bd))
            .when(b >= 64L && b <= 127L,
              next(a, lr, b - 62L, px, lm, ltr, rpr + 1L, bd))
            .otherwise(next(a, lr, pd, px, lm, ltr, rpr, lit(1L)))
        })
      struct(length(ss).cast("long").as("n_bytes"),
        fin.getField("litr").as("lit_runs"),
        fin.getField("repr").as("rep_runs"),
        fin.getField("px").as("n_pixels"),
        fin.getField("luma").as("luma_sum"),
        when(ss.substr(lit(1), lit(4)) === "RL1\n" &&
          fin.getField("lit_rem") === 0L && fin.getField("pend") === 0L &&
          fin.getField("bad") === 0L, 1L).otherwise(0L).as("ok"))
    }
    evalOnce(media, $"doc_id", out)
      .select($"doc_id", $"o.n_bytes".as("n_bytes"),
        $"o.lit_runs".as("lit_runs"), $"o.rep_runs".as("rep_runs"),
        $"o.n_pixels".as("n_pixels"), $"o.luma_sum".as("luma_sum"),
        $"o.ok".as("ok"))
  }

  /** Per-(carry, char) Huffman transition tables — the canonical-table
    * decode every production inflater uses: for entry ones-run o ∈ [0,6]
    * and 6-bit char value u, simulate the six bits MSB-first once at
    * BUILD time and record (codes emitted e, Σ symbol values sv, Σ
    * local-index-weighted values sw, Σ full code lengths bt — a code's
    * length includes ones carried in from earlier chars, so summing bt
    * over chars is exactly Σ len over codes however they straddle — and
    * exit ones-run o2). The position-weighted checksum decomposes as
    * wsum += dec·sv + sw, so one table step replaces six interpreted
    * bit-steps (round-16: the bit-wise fold cost 154.9 s at sf10; the
    * table form is the same automaton batched per char). */
  private val huffTables: (Array[Long], Array[Long], Array[Long],
      Array[Long], Array[Long]) = {
    val n = 7 * 64
    val (e, sv, sw, bt, o2) = (new Array[Long](n), new Array[Long](n),
      new Array[Long](n), new Array[Long](n), new Array[Long](n))
    for (o <- 0 to 6; u <- 0 until 64) {
      var ones = o.toLong; var cnt = 0L; var vs = 0L; var ws = 0L
      var bits = 0L
      for (i <- 5 to 0 by -1) {
        if (((u >> i) & 1) == 1) {
          ones += 1
          if (ones == 7) { cnt += 1; vs += 7; ws += cnt * 7; bits += 7
            ones = 0 }
        } else { cnt += 1; vs += ones; ws += cnt * ones; bits += ones + 1
          ones = 0 }
      }
      val k = o * 64 + u
      e(k) = cnt; sv(k) = vs; sw(k) = ws; bt(k) = bits; o2(k) = ones
    }
    (e, sv, sw, bt, o2)
  }

  /** The pre-round-17 table-driven fold — A/B witness. */
  def huffDecodeHofOf(media: DataFrame): DataFrame = {
    val asciiF = org.apache.spark.sql.functions.ascii _
    val (eLit, svLit, swLit, btLit, o2Lit) = (
      array(huffTables._1.map(lit): _*), array(huffTables._2.map(lit): _*),
      array(huffTables._3.map(lit): _*), array(huffTables._4.map(lit): _*),
      array(huffTables._5.map(lit): _*))
    val out = bindOnce(decode($"payload", "UTF-8")) { ss =>
      bindOnce((asciiF(ss.substr(lit(5), lit(1))).cast("long") - 32L) * 64L
          + asciiF(ss.substr(lit(6), lit(1))).cast("long") - 32L) { m =>
        import org.apache.spark.sql.Column
        def st(o: Column, d: Column, v: Column, w: Column, bt: Column,
            bd: Column) =
          struct(o.as("ones"), d.as("dec"), v.as("vsum"), w.as("wsum"),
            bt.as("bits"), bd.as("bad"))
        val zero = st(lit(0L), lit(0L), lit(0L), lit(0L), lit(0L), lit(0L))
        def step(s: Column, b: Column): Column = {
          val (ones, dec) = (s.getField("ones"), s.getField("dec"))
          val (vsum, wsum) = (s.getField("vsum"), s.getField("wsum"))
          val (bits, bad) = (s.getField("bits"), s.getField("bad"))
          when(dec >= m, // padding zone: every pad bit must be 1
            st(ones, dec, vsum, wsum, bits,
              when(b === 0L, lit(1L)).otherwise(bad)))
            .when(b === 1L && ones === 6L, // seventh 1 completes symbol 7
              st(lit(0L), dec + 1L, vsum + 7L, wsum + (dec + 1L) * 7L,
                bits + 7L, bad))
            .when(b === 1L, st(ones + 1L, dec, vsum, wsum, bits, bad))
            .otherwise( // a 0 terminates: symbol = ones-run length
              st(lit(0L), dec + 1L, vsum + ones, wsum + (dec + 1L) * ones,
                bits + ones + 1L, bad))
        }
        // round-17: fold over the native code array (see rleDecodeOf)
        val fin = aggregate(
          call_function("ascii_codes", ss.substr(lit(7), length(ss))),
          zero,
          (a, b) => bindOnce(b - 32L) { u =>
            val (ones, dec) = (a.getField("ones"), a.getField("dec"))
            val (vsum, wsum) = (a.getField("vsum"), a.getField("wsum"))
            val (bits, bad) = (a.getField("bits"), a.getField("bad"))
            // out-of-alphabet char: flag and skip (ok can never recover)
            when(u < 0L || u > 63L, st(ones, dec, vsum, wsum, bits, lit(1L)))
              // pure padding char after the m-th code: all six bits must
              // be 1 — identical to six bit-steps in the padding zone
              .when(dec >= m, st(ones, dec, vsum, wsum, bits,
                when(u =!= 63L, lit(1L)).otherwise(bad)))
              .otherwise(bindOnce(ones * 64L + u + 1L) { idx =>
                bindOnce(element_at(eLit, idx.cast("int"))) { eC =>
                  // fast path: every code this char completes lands at or
                  // before the m-th — one table step. If the char ends
                  // EXACTLY at m, any leftover ones are legal padding
                  // (a 0 among them would have emitted another code and
                  // pushed dec+e past m), so the carry resets.
                  when(dec + eC <= m,
                    st(when(dec + eC === m, lit(0L))
                        .otherwise(element_at(o2Lit, idx.cast("int"))),
                      dec + eC,
                      vsum + element_at(svLit, idx.cast("int")),
                      wsum + dec * element_at(svLit, idx.cast("int"))
                        + element_at(swLit, idx.cast("int")),
                      bits + element_at(btLit, idx.cast("int")), bad))
                    // boundary/malformed: codes would cross the m-th
                    // mid-char — walk this one char bit-wise
                    .otherwise((0 to 5).foldLeft(a: Column) { (s, i) =>
                      bindOnce(s)(sb =>
                        step(sb, shiftright(u, 5 - i).bitwiseAND(lit(1L))))
                    })
                }
              })
          })
        struct(length(ss).cast("long").as("n_bytes"),
          fin.getField("dec").as("n_syms"),
          fin.getField("vsum").as("value_sum"),
          fin.getField("wsum").as("wsum"),
          fin.getField("bits").as("bit_len"),
          // round-16 ADVICE: the padding-zone bit check (every pad bit
          // is 1) cannot see EXTRA all-ones chars appended past the one
          // legal padded boundary char — the packed-length identity
          // (bytes = 6 header + ceil(code bits / 6)) is what rejects
          // them, so it is part of ok, not just a spec-side assert.
          when(ss.substr(lit(1), lit(4)) === "HF1\n" &&
            fin.getField("dec") === m && fin.getField("ones") === 0L &&
            fin.getField("bad") === 0L &&
            length(ss).cast("long") === lit(6L) +
              floor((fin.getField("bits") + 5L) / lit(6L)).cast("long"),
            1L).otherwise(0L).as("ok"))
      }
    }
    evalOnce(media, $"doc_id", out)
      .select($"doc_id", $"o.n_bytes".as("n_bytes"),
        $"o.n_syms".as("n_syms"), $"o.value_sum".as("value_sum"),
        $"o.wsum".as("wsum"), $"o.bit_len".as("bit_len"), $"o.ok".as("ok"))
  }

  /** The pre-round-17 higher-order-function automaton — A/B witness. */
  def lzDecodeHofOf(media: DataFrame): DataFrame = {
    val asciiF = org.apache.spark.sql.functions.ascii _
    val out = bindOnce(decode($"payload", "UTF-8")) { ss =>
      bindOnce((asciiF(ss.substr(lit(5), lit(1))).cast("long") - 32L) * 64L
          + asciiF(ss.substr(lit(6), lit(1))).cast("long") - 32L) { tT =>
        import org.apache.spark.sql.Column
        // parser modes: 0 expect tag, 1 expect literal value, 2 expect
        // copy length, 3 expect dist-hi, 4 expect dist-lo
        def st(md: Column, pl: Column, ph: Column, tk: Column, cp: Column,
            o: Column, bad: Column) =
          struct(md.as("md"), pl.as("pl"), ph.as("ph"), tk.as("tk"),
            cp.as("cp"), o.as("o"), bad.as("bad"))
        val zero = st(lit(0L), lit(0L), lit(0L), lit(0L), lit(0L),
          lit(""), lit(0L))
        val fin = aggregate(
          filter(split(ss.substr(lit(7), length(ss)), ""),
            ch => length(ch) > 0),
          zero,
          (a, ch) => bindOnce(asciiF(ch).cast("long")) { b =>
            val (md, pl, ph) = (a.getField("md"), a.getField("pl"),
              a.getField("ph"))
            val (tk, cp, o, bad) = (a.getField("tk"), a.getField("cp"),
              a.getField("o"), a.getField("bad"))
            when(md === 0L,
              when(ch === "L", st(lit(1L), pl, ph, tk, cp, o, bad))
                .when(ch === "C", st(lit(2L), pl, ph, tk, cp, o, bad))
                .otherwise(st(lit(0L), pl, ph, tk, cp, o, lit(1L))))
              .when(md === 1L, // literal value byte appends to history
                st(lit(0L), pl, ph, tk + 1L, cp, concat(o, ch),
                  when(b < 32L, lit(1L)).otherwise(bad)))
              .when(md === 2L, // copy length: chr(32+l), l in [1,63]
                st(lit(3L), b - 32L, ph, tk, cp, o,
                  when(b <= 32L || b > 95L, lit(1L)).otherwise(bad)))
              .when(md === 3L, // dist hi 6 bits
                st(lit(4L), pl, b - 32L, tk, cp, o,
                  when(b < 32L || b > 95L, lit(1L)).otherwise(bad)))
              .otherwise( // dist lo: resolve and apply the copy
                bindOnce(ph * 64L + b - 32L) { dist =>
                  when(b >= 32L && b <= 95L && dist >= 1L &&
                      dist <= length(o).cast("long") && pl >= 1L,
                    st(lit(0L), lit(0L), lit(0L), tk + 1L, cp + 1L,
                      // byte-by-byte: the source index is computed from
                      // the GROWING buffer each step, so dist < len
                      // self-extends exactly like a real inflater
                      aggregate(sequence(lit(1L), pl), o,
                        (oo, _) => concat(oo, oo.substr(
                          (length(oo).cast("long") - dist + 1L)
                            .cast("int"), lit(1)))),
                      bad))
                    .otherwise( // distance past start / zero len: flag,
                      // skip the copy, keep walking tokens
                      st(lit(0L), lit(0L), lit(0L), tk + 1L, cp + 1L, o,
                        lit(1L)))
                })
          })
        bindOnce(fin.getField("o")) { ostr =>
          // round-17: fold the readout sums over the native code array
          bindOnce(aggregate(
            call_function("ascii_codes", ostr),
            struct(lit(0L).as("i"), lit(0L).as("vs"), lit(0L).as("ws")),
            (a, b) =>
              struct((a.getField("i") + 1L).as("i"),
                (a.getField("vs") + b).as("vs"),
                (a.getField("ws") + (a.getField("i") + 1L) * b).as("ws"))
            )) { vf =>
            struct(length(ss).cast("long").as("n_bytes"),
              fin.getField("tk").as("n_toks"),
              fin.getField("cp").as("n_copies"),
              length(ostr).cast("long").as("out_len"),
              vf.getField("vs").as("value_sum"),
              vf.getField("ws").as("wsum"),
              when(ss.substr(lit(1), lit(4)) === "LZ1\n" &&
                fin.getField("md") === 0L && fin.getField("tk") === tT &&
                fin.getField("bad") === 0L, 1L).otherwise(0L).as("ok"))
          }
        }
      }
    }
    evalOnce(media, $"doc_id", out)
      .select($"doc_id", $"o.n_bytes".as("n_bytes"),
        $"o.n_toks".as("n_toks"), $"o.n_copies".as("n_copies"),
        $"o.out_len".as("out_len"), $"o.value_sum".as("value_sum"),
        $"o.wsum".as("wsum"), $"o.ok".as("ok"))
  }

  /** The pre-native lambda form of `MultimodalOps.rlePayloadOf` — the A/B
    * witness for [[graft.functions.RlePayload]]. */
  def rlePayloadHofOf(docs: DataFrame, div: DataFrame): DataFrame = {
    payloadDocs(docs)
      .crossJoin(broadcast(div))
      .select($"doc_id",
      encode(concat(lit("RL1\n"),
        // round-17: split-once ascii codes (see pgmPayloadOf) — each
        // token's substr re-scanned the document
        bindOnce(struct(
          call_function("ascii_codes", $"text").as("tc"),
          length($"text").cast("long").as("n"), $"q".as("q"))) { c =>
          val tc = c.getField("tc")
          val n = c.getField("n")
          array_join(transform(
            sequence(lit(0L),
              greatest(lit(3L), floor((lit(8L) + (n * 3L) % 57L)
                / c.getField("q")).cast("long")) - 1L),
            j => bindOnce((element_at(tc, (j % n + 1L).cast("int"))
                * 37L + j * 11L) % 96L) { u =>
              val rep = concat(
                call_function("chr", lit(64L) + u % 60L),
                call_function("chr", lit(32L) + (u * 5L + j) % 96L))
              val lL = lit(1L) + u % 5L
              val lits = concat(
                call_function("chr", lL),
                array_join(transform(sequence(lit(0L), lL - 1L),
                  i => call_function("chr",
                    lit(32L) + (u * 7L + j + i * 13L) % 96L)), ""))
              when(u % 3L === 0L, rep).otherwise(lits)
            }), "")
        }), "UTF-8").as("payload"))
  }

  /** The pre-native lambda form of `MultimodalOps.huffPayloadOf` — the A/B
    * witness for [[graft.functions.HuffPayload]]. */
  def huffPayloadHofOf(docs: DataFrame, div: DataFrame): DataFrame = {
    payloadDocs(docs)
      .crossJoin(broadcast(div))
      .select($"doc_id",
      encode(concat(lit("HF1\n"),
        // round-17: split-once ascii codes (see pgmPayloadOf)
        bindOnce(struct(
          call_function("ascii_codes", $"text").as("tc"),
          length($"text").cast("long").as("n"), $"q".as("q"))) { c =>
          val tc = c.getField("tc")
          val n = c.getField("n")
          bindOnce(greatest(lit(2L), floor((lit(8L) + (n * 5L) % 48L)
              / c.getField("q")).cast("long"))) { m =>
            val codes = array_join(transform(sequence(lit(0L), m - 1L),
              j => bindOnce((element_at(tc, (j % n + 1L).cast("int"))
                  * 29L + j * 13L) % 8L) { k =>
                when(k === 7L, lit("1111111"))
                  .otherwise(concat(lit("1111111").substr(lit(1),
                    k.cast("int")), lit("0")))
              }), "")
            val header = concat(
              call_function("chr", lit(32L) + floor(m / 64L).cast("long")),
              call_function("chr", lit(32L) + m % 64L))
            concat(header, bindOnce(codes) { cs =>
              bindOnce(concat(cs, lit("11111").substr(lit(1),
                ((lit(6) - length(cs) % 6) % 6)))) { bb =>
                array_join(transform(
                  sequence(lit(0L), floor(length(bb) / 6).cast("long") - 1L),
                  g => call_function("chr", lit(32L) +
                    conv(bb.substr((g * 6L + 1L).cast("int"), lit(6)),
                      2, 10).cast("long"))), "")
              }
            })
          }
        }), "UTF-8").as("payload"))
  }

  /** The pre-native lambda form of `MultimodalOps.lzPayloadOf` — the A/B
    * witness for [[graft.functions.LzPayload]]. */
  def lzPayloadHofOf(docs: DataFrame, div: DataFrame): DataFrame = {
    def chrOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      call_function("chr", c)
    payloadDocs(docs)
      .crossJoin(broadcast(div))
      .select($"doc_id",
        // round-17: split-once ascii codes (see pgmPayloadOf)
        encode(bindOnce(struct(
          call_function("ascii_codes", $"text").as("tc"),
          length($"text").cast("long").as("n"), $"q".as("q"))) { cc =>
          val tc = cc.getField("tc")
          val n = cc.getField("n")
          bindOnce((element_at(tc, 1) * 31L)
              % 96L) { dh =>
            bindOnce(greatest(lit(4L), floor((lit(8L) + (n * 7L) % 40L)
                / cc.getField("q")).cast("long"))) { m =>
              val pre = array_join(transform(sequence(lit(0L), lit(7L)),
                i => concat(lit("L"),
                  chrOf(lit(32L) + (dh + i * 17L) % 96L))), "")
              aggregate(sequence(lit(0L), m - 1L),
                struct(pre.as("s"), lit(8L).as("off"), lit(8L).as("tk")),
                (st, j) => bindOnce((element_at(tc, (j % n + 1L)
                    .cast("int")) * 23L + j * 19L)
                    % 96L) { u =>
                  bindOnce(chrOf(lit(32L) + (u * 5L + j) % 96L)) { cch =>
                    val s0 = st.getField("s")
                    val off = st.getField("off")
                    val tk = st.getField("tk")
                    val lC = lit(2L) + u % 6L
                    val pC = lit(1L) + u % 4L
                    // dist for the prefix copy = output length AFTER the
                    // leading literal, so the source window starts at 0
                    val dist = off + 1L
                    val litTok = concat(lit("L"), cch)
                    val copyO = concat(lit("C"), chrOf(lit(32L) + lC),
                      lit(" !")) // dist 1: hi chr(32), lo chr(33)
                    val copyP = concat(lit("C"), chrOf(lit(32L) + pC),
                      chrOf(lit(32L) + floor(dist / 64L).cast("long")),
                      chrOf(lit(32L) + dist % 64L))
                    when(u % 3L === 0L,
                      struct(concat(s0, litTok).as("s"),
                        (off + 1L).as("off"), (tk + 1L).as("tk")))
                      .when(u % 3L === 1L,
                        struct(concat(s0, litTok, copyO).as("s"),
                          (off + 1L + lC).as("off"), (tk + 2L).as("tk")))
                      .otherwise(
                        struct(concat(s0, litTok, copyP).as("s"),
                          (off + 1L + pC).as("off"), (tk + 2L).as("tk")))
                  }
                },
                st => concat(lit("LZ1\n"),
                  chrOf(lit(32L) + floor(st.getField("tk") / 64L)
                    .cast("long")),
                  chrOf(lit(32L) + st.getField("tk") % 64L),
                  st.getField("s")))
            }
          }
        }, "UTF-8").as("payload"))
  }

  /** The declarative explode/agg form of the
    * `MultimodalOps.simhashPayloadOf` fingerprint — the A/B witness for
    * [[graft.functions.Simhash32]]. */
  def simhashPayloadHofOf(media: DataFrame): DataFrame = {
    val grams = media
      .select($"doc_id", $"payload")
      .filter(length($"payload") >= 4)
      .select($"doc_id",
        explode(transform(sequence(lit(1), length($"payload") - 3),
          i => $"payload".substr(i, lit(4)))).as("g"))
    val sums = (0 until 32).map(j =>
      sum(when(shiftright($"hv", j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$j"))
    val bits = (0 until 32)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val f = grams
      .select($"doc_id", call_function("md5hash60", $"g").as("hv"))
      .groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id", bits.as("simhash"))
    LlmTextOps.hammingPairsOf(f, "simhash", bits = 32, radius = 1)
  }

  /** The pre-round-17 higher-order-function form of
    * `MultimodalOps.dctHash` — kept verbatim as the A/B witness for the
    * native expression (the HilbertKey native-equals-fold discipline):
    * MultimodalOpsSpec pins
    * `dct_phash(px) ≡ dctHashHof(px)` on decoded corpus rows, so the
    * native transform can never drift from the oracle-mirrored fold. */
  def dctHashHof(px: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val clLit = array(DctPpm.map(lit): _*)
    val p2Lit = array((0 until 63).map(k => lit(1L << k)): _*)
    bindOnce(transform(sequence(lit(0), lit(63)), i => {
      val u = shiftright(i, 3)
      val y = i.bitwiseAND(lit(7))
      (0 until 8).map(x =>
        element_at(px, lit(8 * x) + y + 1) *
          element_at(clLit, u * 8 + lit(x) + 1)).reduce(_ + _)
    })) { g =>
      bindOnce(transform(sequence(lit(0), lit(63)), i => {
        val u = shiftright(i, 3)
        val v = i.bitwiseAND(lit(7))
        (0 until 8).map(y =>
          element_at(g, u * 8 + lit(y) + 1) *
            element_at(clLit, v * 8 + lit(y) + 1)).reduce(_ + _)
      })) { f =>
        bindOnce(aggregate(slice(f, 2, 63), lit(0L), _ + _)) { sumac =>
          aggregate(sequence(lit(1), lit(63)), lit(0L),
            (acc, i) => acc + when(element_at(f, i + 1) * 63L > sumac,
              element_at(p2Lit, i)).otherwise(0L))
        }
      }
    }
  }

  /** The declarative HOF form of the `MultimodalOps.phashPgmOf`
    * downsample — the A/B witness for [[graft.functions.BlockMeans64]]. */
  def phashPgmHofOf(media: DataFrame,
      hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        dctHash): DataFrame = {
    val s = decode($"payload", "UTF-8")
    val hash = bindOnce(struct(
      regexp_extract(s, "^(P5\\n\\d+ \\d+\\n\\d+\\n)", 1).as("hdr"),
      regexp_extract(s, PgmPat, 1).as("ws"),
      regexp_extract(s, PgmPat, 2).as("hs"),
      s.as("s"))) { c =>
      val ok = length(c.getField("hdr")) > 0
      when(ok,
        bindOnce(struct(
          c.getField("ws").cast("long").as("w"),
          c.getField("hs").cast("long").as("h"),
          shiftright(c.getField("ws").cast("long"), 3).as("wb"),
          shiftright(c.getField("hs").cast("long"), 3).as("hb"),
          // split ONCE into a code array: every tile read below is then an
          // O(1) element_at instead of a substr that re-scans the raster
          // (measured 14.4 s → see COVERAGE for the split-once number);
          // round-17: native ascii_codes — long elements, no per-char
          // single-character strings
          call_function("ascii_codes",
            c.getField("s").substr(length(c.getField("hdr")) + 1,
              length(c.getField("s")))).as("rc"))) { d =>
          val w = d.getField("w")
          val wb = d.getField("wb")
          val hb = d.getField("hb")
          val rc = d.getField("rc")
          bindOnce(transform(sequence(lit(0L), lit(63L)), i => {
            val u = shiftright(i, 3)
            val v = i.bitwiseAND(lit(7L))
            val cnt = hb * wb
            // block mean: sum over the hb×wb tile, then exact integer DIV
            // (sums < 2^11, doubles exact — floor is engine-safe here)
            floor(aggregate(sequence(lit(0L), cnt - 1), lit(0L), (acc, a) =>
              acc + element_at(rc,
                (((u * hb + floor(a / wb).cast("long")) * w
                  + v * wb + (a % wb)) + 1).cast("int")))
              / cnt).cast("long")
          })) { px => hashFn(px) }
        })
    }
    media.select($"doc_id", hash.as("phash"))
  }
}
