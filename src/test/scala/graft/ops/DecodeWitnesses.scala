package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import MultimodalOps.{bindOnce, evalOnce}

/** The higher-order-function decode automata the native `rle_stream_decode`,
  * `huff_stream_decode` and `lz_stream_decode` expressions replaced. Each
  * walks its payload with an interpreted `aggregate` fold over the same
  * `(doc_id, payload)` frame as the matching `MultimodalOps.*DecodeOf`
  * fixture seam and yields the same columns, so `MultimodalOpsSpec` can pin
  * native ≡ fold by value on corpus payloads and hand-packed malformed
  * fixtures. Only the specs use them; the registered lanes run the native
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
}
