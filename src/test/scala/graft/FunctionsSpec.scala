package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Multimodal, Similarity, TextAnalysis => TA}

/** Extension-operator semantics: text analysis, dedup, similarity,
  * multimodal plumbing. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("r")).collect().head.getAs[T]("r")

  test("token counts and mean length") {
    assert(one[Int](TA.tokenCount(col("text")), "a bb ccc") == 3)
    assert(one[Int](TA.distinctTokenCount(col("text")), "a a b") == 2)
    assert(one[Long](TA.meanTokenLenMicros(col("text")), "a bb ccc") == 2000000L)
  }

  test("pre-tokenizer splits alpha/digit/punct runs") {
    val r = Seq("ab12,cd").toDF("text")
      .select(TA.preTokens(col("text")).as("r")).collect().head.getSeq[String](0)
    assert(r == Seq("ab", "12", ",", "cd"))
  }

  test("langId picks stopword argmax with deterministic tiebreak") {
    assert(one[String](TA.langId(col("text")), "the cat and the dog") == "en")
    assert(one[String](TA.langId(col("text")), "der hund und die katze") == "de")
    assert(one[String](TA.langId(col("text")), "xyzzy qwerty") == "unknown")
  }

  test("langIdProfile discriminates real language samples and rejects " +
    "non-language noise") {
    val samples = Seq(
      ("en", "The weather was cold and the children walked to the old " +
        "school by the river with their friends in the morning"),
      ("en", "She said that they would have been there before the end of " +
        "the other meeting if he had not lost the keys"),
      ("de", "Der alte Mann ging mit dem Hund durch die Stadt und kaufte " +
        "sich ein frisches Brot bei dem kleinen Laden an der Ecke"),
      ("de", "Die Kinder haben nach der Schule noch lange auf dem Platz " +
        "gespielt und sind erst am Abend nach Hause gekommen"),
      ("fr", "Le vieux chien dort dans la cuisine pendant que les enfants " +
        "jouent dans le jardin avec leur mere et leur pere"),
      ("fr", "Il est plus facile de parler que de faire et ce sont les " +
        "petites choses qui font la vie de tous les jours"),
      ("es", "El perro viejo duerme en la cocina mientras los ninos " +
        "juegan en el jardin con su madre y con los otros amigos"),
      ("es", "Es mas facil hablar que hacer y son las cosas pequenas las " +
        "que hacen la vida de todos los dias para la gente"))
    val got = samples.toDF("truth", "text")
      .select(col("truth"), TA.langIdProfile(col("text")).as("pred"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    got.foreach { case (truth, pred) => assert(pred == truth,
      s"expected $truth got $pred") }
    // no letters at all → empty profile → unknown; digit soup likewise
    assert(one[String](TA.langIdProfile(col("text")), "12345 67890 !!!") ==
      "unknown")
    assert(one[String](TA.langIdProfile(col("text")), "") == "unknown")
  }

  test("langIdProfile confusion matrix: all 16 languages discriminate " +
    "on held-out text, none absorbs another") {
    // held-out = NOT the seed text (the seeds are stopword lists; these
    // are natural sentences, ASCII-folded exactly as real pipelines
    // normalize). Every sample must classify as its own language — an
    // exact-match assertion over the full matrix is the strongest form:
    // any off-diagonal absorption (da↔sv, es↔pt, cs↔pl are the hard
    // pairs) fails with the confused pair named.
    val holdout = Seq(
      ("en", "he did not quite know what he should say when his friend " +
        "asked him why he had not come to the party last week"),
      ("de", "er wusste nicht genau was er sagen sollte als sein freund " +
        "ihn fragte warum er letzte woche nicht zum fest gekommen war"),
      ("fr", "il ne savait pas bien ce qu il devait dire quand son ami " +
        "lui a demande pourquoi il n etait pas venu a la fete"),
      ("es", "no sabia bien lo que debia decir cuando su amigo le " +
        "pregunto por que no habia venido a la fiesta ademas los ninos " +
        "estaban jugando en el jardin y las otras personas ya se habian " +
        "ido a sus casas"),
      ("it", "non sapeva bene che cosa avrebbe dovuto dire quando il " +
        "suo amico gli ha chiesto perche non era venuto alla festa"),
      ("pt", "ele nao sabia o que deveria dizer quando o seu amigo lhe " +
        "perguntou porque nao tinha vindo a festa da semana passada"),
      ("nl", "hij wist niet goed wat hij moest zeggen toen zijn vriend " +
        "hem vroeg waarom hij niet naar het feest was gekomen"),
      ("sv", "han visste inte riktigt vad han skulle saga nar hans van " +
        "fragade honom varfor han inte hade kommit till festen"),
      ("da", "han vidste ikke rigtig hvad han skulle sige da hans ven " +
        "spurgte ham hvorfor han ikke var kommet til festen i sidste uge"),
      ("fi", "han ei tiennyt mita hanen olisi pitanyt sanoa kun hanen " +
        "ystavansa kysyi hanelta miksi han ei ollut tullut juhliin"),
      ("pl", "nie wiedzial co powinien powiedziec kiedy jego przyjaciel " +
        "zapytal go dlaczego nie przyszedl na przyjecie w zeszlym tygodniu"),
      ("cs", "nevedel co by mel rici kdyz se ho jeho pritel zeptal proc " +
        "neprisel na oslavu minuly tyden a proto jen mlcel"),
      ("ro", "el nu stia ce ar fi trebuit sa spuna cand prietenul sau " +
        "l a intrebat de ce nu a venit la petrecerea de saptamana trecuta"),
      ("hu", "nem tudta mit kellett volna mondania amikor a baratja " +
        "megkerdezte tole hogy miert nem jott el a mult heti bulira"),
      ("tr", "o bana ne soyleyecegini bilmiyordu cunku ben ona gecen " +
        "hafta neden partiye gelmedigini sormustum ve o da bir sey " +
        "soylemedi ama daha sonra bana her seyi anlatti"),
      ("id", "dia tidak tahu apa yang harus dikatakannya ketika " +
        "temannya bertanya mengapa dia tidak datang ke pesta minggu lalu"))
    assert(holdout.map(_._1).toSet.size == 16)
    assert(TA.LangSeeds.map(_._1).toSet == holdout.map(_._1).toSet,
      "hold-out set must cover exactly the embedded profile languages")
    val got = holdout.toDF("truth", "text")
      .select(col("truth"), TA.langIdProfile(col("text")).as("pred"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val confused = got.filter { case (t, p) => t != p }
    assert(confused.isEmpty,
      "confusion: " + confused.map { case (t, p) => s"$t→$p" }.mkString(", "))
  }

  test("langIdProfile kernel path is row-identical to the HOF reference " +
    "path on the corpus") {
    // the file is one split: spread its rows over every core in a
    // materialized frame, or the interpreted HOF path runs the whole
    // corpus in one task (the filter below would be pushed beneath a
    // bare repartition, back into the scan)
    graft.exec.Frames { f =>
    val docs = f.eagerly(
      spark.read.parquet(s"${sf()}/documents.parquet")
        .select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism))
    val both = docs.select(col("doc_id"),
      TA.langIdProfile(col("text")).as("k"),
      TA.langIdProfile(col("text"), useKernel = false).as("h"))
    assert(both.filter(col("k") =!= col("h")).count() == 0)
    }
    // and on the discrimination fixtures incl. empty/noise edges
    val fx = Seq("", "12345 !!!", "hi there",
      "der alte Mann ging mit dem Hund durch die Stadt")
      .toDF("text").select(
        TA.langIdProfile(col("text")).as("k"),
        TA.langIdProfile(col("text"), useKernel = false).as("h"))
    assert(fx.filter(col("k") =!= col("h")).count() == 0)
  }

  test("langIdProfile doc profile (kernel) matches the plain-Scala " +
    "profile derivation on crafted and corpus docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).select(col("doc_id"), col("text"))
    val got = docs
      .select(col("doc_id"), col("text"), graft.catalyst.TopGramsByCount(
        TA.charNgrams(col("text")), TA.DocProfileSize).as("prof"))
      .collect()
    got.foreach { r =>
      val expected = TA.charTrigramsOf(r.getString(1))
        .groupBy(identity).toSeq.map { case (g, gs) => (g, gs.size) }
        .sortBy { case (g, c) => (-c, g) }.take(TA.DocProfileSize).map(_._1)
      assert(r.getSeq[String](2) == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("quality score rewards healthy docs, is clamped at 0") {
    val healthy = "the quick brown fox jumps over the lazy dog and then " * 3
    assert(one[Int](TA.qualityScore(col("text")), healthy) > 50)
    assert(one[Int](TA.qualityScore(col("text")), "!!!") >= 0)
  }

  test("dHash: identical texts collide, one-token edits stay within a " +
    "few bits, unrelated texts are far; banding finds close pairs") {
    import graft.functions.Multimodal
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "walks away into the quiet forest before dawn breaks over hills"
    val near = base.replace("quiet", "silent")
    val far = "completely different content about spark query engines " +
      "columnar execution vectorized operators and shuffle planning"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
    val hs = df.select(col("doc_id"),
        Multimodal.dHash(Multimodal.pixelGridStub(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L), "identical texts must collide exactly")
    assert(hs.values.forall(h => h >= 0L && h < (1L << 56)),
      "56-bit hashes stay in positive int64")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(3L)) <= 16,
      s"one-token edit moved ${ham(hs(1L), hs(3L))} bits")
    assert(ham(hs(1L), hs(4L)) > 16,
      s"unrelated text only ${ham(hs(1L), hs(4L))} bits away")
    // the banded pair path surfaces exact dups via multiplicities and
    // close pairs via shared band keys
    val pairs = Multimodal.imageNearDupPairs(df, "doc_id", "text",
      maxHamming = 16).collect()
    assert(pairs.forall(_.getInt(2) <= 16))
    // fused kernel ≡ composed HOF reference, on fixtures AND corpus docs
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).unionAll(df)
    val diff = corpus.select(
      Multimodal.dHashStub(col("text")).as("k"),
      Multimodal.dHash(Multimodal.pixelGridStub(col("text"))).as("r"))
      .filter(col("k") =!= col("r")).count()
    assert(diff == 0, s"kernel diverged from HOF reference on $diff docs")
    assert(Multimodal.DHashW == 9 && Multimodal.DHashH == 7,
      "kernel constants are duplicated in DHashStub — update both")
  }

  test("dHash band keys are candidate-only: every ≤3-bit pair shares a " +
       "band key (pigeonhole), and banded pairs ≡ brute-force Hamming " +
       "join on the corpus") {
    import graft.functions.Multimodal
    // Unlike the winnow/MinHash indexes, the dHash index persists the
    // FULL 56-bit hash and every candidate is verified by exact Hamming
    // against it — band-key width is a recall/cost knob, never a
    // correctness knob. This spec pins both halves of that claim.
    // (1) pigeonhole recall: 4 bands × 14 bits, ≤3 flipped bits → ≥1
    // band untouched → the pair shares that band's exact key
    val rnd = new scala.util.Random(11)
    val perturbed = (0 until 200).map { _ =>
      val h = rnd.nextLong() & ((1L << 56) - 1)
      var h2 = h
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        h2 = h2 ^ (1L << rnd.nextInt(56)) }
      (h, h2)
    }
    val misses = perturbed.toDF("a", "b")
      .select(size(array_intersect(
        transform(Multimodal.bandKeys(col("a")), x => x.getField("key")),
        transform(Multimodal.bandKeys(col("b")), x => x.getField("key"))))
        .as("shared"))
      .filter(col("shared") < 1).count()
    assert(misses == 0, s"$misses ≤3-bit pairs shared NO band key")
    // (2) on the corpus: the banded path reports exactly the pairs a
    // brute-force all-pairs Hamming join finds (plus fixture near-dups
    // so the comparison is non-vacuous even if the corpus has none)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionAll(Seq(
        800L -> base, 801L -> base.replace("rho", "rhoo"),
        802L -> base.replace("mu", "muu")).toDF("doc_id", "text"))
    val hashes = docs
      .select(Multimodal.dHashStub(col("text")).as("h")).distinct().cache()
    val brute = hashes.as("a").crossJoin(hashes.as("b"))
      .filter(col("a.h") < col("b.h"))
      .filter(Multimodal.hamming(col("a.h"), col("b.h")) <= 3)
      .select(col("a.h").as("h1"), col("b.h").as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Multimodal.imageNearDupPairs(docs, "doc_id", "text",
        maxHamming = 3)
      .select(col("h1"), col("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    hashes.unpersist()
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} pairs diverge")
  }

  test("real PNG decode: Inflater round-trip through all filters, CRC " +
       "verification, color type 2, bomb guard, soft failures") {
    import graft.functions.Multimodal
    // round-trip: the encoder cycles None/Sub/Up filters by row, so a
    // pixel-exact round-trip proves inflate AND de-filter, not just parse
    val px = Multimodal.synthPixels("alpha beta gamma delta epsilon", 18, 14)
    val enc = Multimodal.encodePng(px, 18, 14)
    assert(Multimodal.decodePngGray(enc).exists { case (w, h, p) =>
      w == 18 && h == 14 && p.sameElements(px) })
    // Average + Paeth filters: hand-build a 3-row image where row 1 uses
    // filter 3 and row 2 filter 4, reconstruct against the RFC recon rules
    def pngWithFilters(pxs: Array[Int], w: Int, h: Int,
                       filters: Array[Int]): Array[Byte] = {
      val raw = new Array[Byte](h * (w + 1))
      for (r <- 0 until h) {
        raw(r * (w + 1)) = filters(r).toByte
        for (c <- 0 until w) {
          val x = pxs(r * w + c)
          val left = if (c > 0) pxs(r * w + c - 1) else 0
          val up = if (r > 0) pxs((r - 1) * w + c) else 0
          val ul = if (r > 0 && c > 0) pxs((r - 1) * w + c - 1) else 0
          def paeth(a: Int, b: Int, cc: Int): Int = {
            val pa = math.abs(b - cc); val pb = math.abs(a - cc)
            val pc = math.abs(a + b - cc - cc)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else cc
          }
          val v = filters(r) match {
            case 0 => x
            case 1 => x - left
            case 2 => x - up
            case 3 => x - (left + up) / 2
            case 4 => x - paeth(left, up, ul)
          }
          raw(r * (w + 1) + 1 + c) = (v & 0xff).toByte
        }
      }
      // reuse the real encoder's container by splicing our raw stream:
      // deflate + rebuild chunks exactly as encodePng does
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
      defl.end()
      def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
        val t = tag.getBytes("US-ASCII")
        val out = java.nio.ByteBuffer.allocate(12 + data.length)
        out.putInt(data.length); out.put(t); out.put(data)
        val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
        out.putInt(crc.getValue.toInt); out.array()
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(w); ihdr.putInt(h); ihdr.put(8.toByte); ihdr.put(0.toByte)
      ihdr.put(0.toByte); ihdr.put(0.toByte); ihdr.put(0.toByte)
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        chunk("IHDR", ihdr.array()) ++ chunk("IDAT", bos.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }
    val px3 = Array.tabulate(12)(j => (j * 37 + 5) % 256)
    val avgPaeth = pngWithFilters(px3, 4, 3, Array(0, 3, 4))
    assert(Multimodal.decodePngGray(avgPaeth).exists(_._3.sameElements(px3)))
    // one flipped IDAT byte → CRC mismatch → None (never garbage pixels)
    val corrupt = enc.clone()
    corrupt(enc.length - 20) = (corrupt(enc.length - 20) ^ 0x40).toByte
    assert(Multimodal.decodePngGray(corrupt).isEmpty)
    // truncated payload and non-PNG bytes fail soft
    assert(Multimodal.decodePngGray(enc.take(enc.length - 10)).isEmpty)
    assert(Multimodal.decodePngGray("not a png at all".getBytes).isEmpty)
    // decompression-bomb guard: a crafted 65536×65536 IHDR is rejected
    // before any inflate allocation
    val bomb = enc.clone()
    bomb(8 + 8) = 0; bomb(8 + 9) = 1; bomb(8 + 10) = 0; bomb(8 + 11) = 0
    bomb(8 + 12) = 0; bomb(8 + 13) = 1; bomb(8 + 14) = 0; bomb(8 + 15) = 0
    // (CRC now wrong too — either rejection path is a pass)
    assert(Multimodal.decodePngGray(bomb).isEmpty)
    // dhashFromPayload routes PNG payloads through the real decoder and
    // the hash equals the PGM path's over the same pixels (format-
    // independent perceptual identity)
    import spark.implicits._
    val both = Multimodal.dhashFromPayload(Seq(
        (1L, Multimodal.encodePng(px, 18, 14)),
        (2L, Multimodal.encodePgm(px, 18, 14))).toDF("id", "payload"),
      "id", "payload").collect().map(r => (r.getLong(0),
        r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(both(0)._3 == "png" && both(1)._3 == "pgm")
    assert(both(0)._2 == both(1)._2)
  }

  test("sq8 scalar quantization: boundary codes exact (lo→0, hi→255), " +
       "midpoint floors, constant-dimension span guard") {
    import spark.implicits._
    import graft.functions.Similarity
    val df = Seq(
      (0L, Array(0.0f, -1.0f, 5.0f)),
      (1L, Array(1.0f, 1.0f, 5.0f)),
      (2L, Array(0.5f, 0.0f, 5.0f))).toDF("vec_id", "embedding")
    val (bounds, codes) = Similarity.sq8Build(df, "vec_id", "embedding", 3)
    val m = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // dim 0 spans [0, 1e6]: lo encodes to 0, hi to 255, midpoint floors
    assert(m(0L)(0) == 0 && m(1L)(0) == 255 && m(2L)(0) == 127)
    // dim 1 spans [-1e6, 1e6]: negative lows shift, never go negative
    assert(m(0L)(1) == 0 && m(1L)(1) == 255 && m(2L)(1) == 127)
    // dim 2 is constant: span-0 guard (greatest(hi-lo, 1)) → all zeros
    assert(Seq(0L, 1L, 2L).forall(id => m(id)(2) == 0))
    // bounds table carries the artifact the serving phase re-reads
    val b = bounds.orderBy("pos").collect().map(r =>
      (r.getLong(1), r.getLong(2)))
    assert(b.sameElements(Array((0L, 1000000L), (-1000000L, 1000000L),
      (5000000L, 5000000L))))
  }

  test("real JPEG decode: exact block-constant round-trip, restart " +
       "markers, dense-AC bounded error, long zero runs, MCU crop, guards") {
    import graft.functions.Multimodal
    // EXACT round-trip: block-constant pixels are DC-only under the
    // FDCT, so flat-quant baseline JPEG inverts exactly — the property
    // the q240 gate's arithmetic oracle rests on. 36×28 is not
    // MCU-aligned on either axis (pads right+bottom, crops back).
    val px = Multimodal.synthBlockPixels("alpha beta gamma delta eps", 36, 28)
    assert(Multimodal.decodeJpegGray(Multimodal.encodeJpegGray(px, 36, 28))
      .exists { case (w, h, p) => w == 36 && h == 28 && p.sameElements(px) })
    // restart markers: RSTm cadence + DC-predictor resets + bit
    // realignment must reproduce the SAME pixels
    assert(Multimodal.decodeJpegGray(
        Multimodal.encodeJpegGray(px, 36, 28, restartInterval = 3))
      .exists { case (w, h, p) => w == 36 && h == 28 && p.sameElements(px) })
    assert(Multimodal.decodeJpegGray(
        Multimodal.encodeJpegGray(px, 36, 28, restartInterval = 1))
      .exists(_._3.sameElements(px)))
    // tiny non-aligned grid (single partial MCU column/row)
    val tiny = Multimodal.synthBlockPixels("x y z", 20, 11)
    assert(Multimodal.decodeJpegGray(Multimodal.encodeJpegGray(tiny, 20, 11))
      .exists { case (w, h, p) => w == 20 && h == 11 && p.sameElements(tiny) })
    // dense-AC stress: per-pixel pseudo-random content drives every
    // Huffman category, AC runs, EOBs and 0xFF byte stuffing; with
    // quant=1 the only loss is FDCT coefficient rounding, whose IDCT
    // image is within ±2 gray levels of the source
    val big = Array.tabulate(120 * 96)(j => ((j * 2654435761L) >>> 7).toInt & 0xff)
    val bigDec = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegGray(big, 120, 96, restartInterval = 5))
    assert(bigDec.exists { case (w, h, p) =>
      w == 120 && h == 96 &&
        p.zip(big).forall { case (a, b) => math.abs(a - b) <= 2 }
    })
    // long zero runs: a (7,7)-cosine basis image concentrates energy at
    // the LAST zigzag position — the encoder must bridge ~62 zeros with
    // ZRL symbols and the decoder must replay them
    val hf = Array.tabulate(16 * 16) { j =>
      val x = j % 16 % 8; val y = j / 16 % 8
      128 + math.round(60.0 * math.cos((2 * x + 1) * 7 * math.Pi / 16) *
        math.cos((2 * y + 1) * 7 * math.Pi / 16)).toInt
    }
    val hfDec = Multimodal.decodeJpegGray(Multimodal.encodeJpegGray(hf, 16, 16))
    assert(hfDec.exists { case (_, _, p) =>
      p.zip(hf).forall { case (a, b) => math.abs(a - b) <= 2 } })
    // guards fail soft, never throw
    val enc = Multimodal.encodeJpegGray(px, 36, 28)
    assert(Multimodal.decodeJpegGray(enc.take(enc.length / 2)).isEmpty,
      "truncated scan")
    assert(Multimodal.decodeJpegGray("not a jpeg".getBytes).isEmpty)
    val progressive = enc.clone()
    // SOF0 (0xC0) → SOF2 (0xC2): progressive is out of scope, directed None
    val sofAt = enc.indices.find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xc0).get
    progressive(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpegGray(progressive).isEmpty, "progressive")
    val wideQuant = enc.clone()
    val dqtAt = enc.indices.find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xdb).get
    wideQuant(dqtAt + 4) = 0x10.toByte // Pq=1: 16-bit table unsupported
    assert(Multimodal.decodeJpegGray(wideQuant).isEmpty, "16-bit DQT")
    // decode chain integration: dhashFromPayload tags the format and
    // the hash equals the stub hash of the resampled source grid
    assert(Multimodal.decodeJpegGray(enc).exists { case (w, h, p) =>
      graft.catalyst.DHashStub.ofGrid(Multimodal.resampleToGrid(p, w, h)) ==
        graft.catalyst.DHashStub.ofGrid(Multimodal.resampleToGrid(px, 36, 28))
    })
  }

  test("real WAV decode: PCM round-trip, chunk walk + pad byte, sign " +
       "extension, feature arithmetic, fingerprint width, guards") {
    import graft.functions.Multimodal
    val ss = Multimodal.synthSamples("alpha beta gamma delta", 64)
    // int16 round-trip, both container layouts (plain / junk LIST chunk
    // with an odd payload exercising the RIFF pad byte)
    assert(Multimodal.decodeWavPcm16(Multimodal.encodeWavPcm16(ss, 8000))
      .exists { case (r, s) => r == 8000 && s.sameElements(ss) })
    assert(Multimodal.decodeWavPcm16(
        Multimodal.encodeWavPcm16(ss, 8000, junkChunk = true))
      .exists { case (r, s) => r == 8000 && s.sameElements(ss) })
    // sign extension: full-scale negative and positive extremes survive
    val extremes = Array(-32768, 32767, -1, 0, 1)
    assert(Multimodal.decodeWavPcm16(
        Multimodal.encodeWavPcm16(extremes, 44100))
      .exists { case (r, s) => r == 44100 && s.sameElements(extremes) })
    // guards fail soft: truncated data, non-PCM format code, stereo,
    // 8-bit, non-WAV bytes
    val enc = Multimodal.encodeWavPcm16(ss, 8000)
    assert(Multimodal.decodeWavPcm16(enc.take(enc.length - 3)).isEmpty,
      "truncated data chunk")
    val alaw = enc.clone(); alaw(20) = 6 // wFormatTag = A-law
    assert(Multimodal.decodeWavPcm16(alaw).isEmpty, "compressed format")
    val stereo = enc.clone(); stereo(22) = 2
    assert(Multimodal.decodeWavPcm16(stereo).isEmpty, "stereo")
    val eight = enc.clone(); eight(34) = 8
    assert(Multimodal.decodeWavPcm16(eight).isEmpty, "8-bit")
    assert(Multimodal.decodeWavPcm16("RIFFxxxxJUNK".getBytes).isEmpty)
    // feature arithmetic matches a direct fold over the samples
    var peak = 0; var zc = 0; var energy = 0L
    ss.indices.foreach { i =>
      peak = math.max(peak, math.abs(ss(i)))
      if (i > 0 && (ss(i - 1) >= 0) != (ss(i) >= 0)) zc += 1
      energy += ss(i).toLong * ss(i)
    }
    val df = Seq((2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val feat = Multimodal.audioFeaturesFromPayload(
      Multimodal.withSynthWavPayload(df, "doc_id", "text"),
      "id", "payload").head()
    assert(feat.getInt(1) == 8000 && feat.getInt(2) == 64 &&
      feat.getInt(3) == peak && feat.getInt(4) == zc &&
      feat.getLong(5) == energy)
    // fingerprint: exactly DHashBits wide (57 frames → 56 delta signs);
    // too-short audio yields null (fail soft), 228 samples succeed and
    // the MSB-first fold matches a direct computation
    val fp = Multimodal.audioFingerprintFromPayload(
      Multimodal.withSynthWavPayload(df, "doc_id", "text",
        nEven = 64, nOdd = 64), "id", "payload").head()
    assert(fp.isNullAt(1), "64 samples < 57 frames — must be null")
    val ss228 = Multimodal.synthSamples("alpha beta gamma delta", 228)
    val e = Array.tabulate(57) { f =>
      (0 until 4).map(j => ss228(4 * f + j).toLong * ss228(4 * f + j)).sum }
    var expect = 0L
    (Multimodal.DHashBits - 1 to 0 by -1).foreach { b =>
      expect = expect * 2 + (if (e(b) < e(b + 1)) 1L else 0L) }
    val fp228 = Multimodal.audioFingerprintFromPayload(
      Multimodal.withSynthWavPayload(df, "doc_id", "text",
        nEven = 228, nOdd = 228), "id", "payload").head()
    assert(fp228.getLong(1) == expect)
  }

  test("bigramSurprisal: hand-computed conditional bits, context counts " +
       "as denominator, short docs keep (0,0)") {
    import graft.functions.LanguageModel
    // doc 1 "a a a b": contexts c(a·)=3; bigrams c(a a)=2, c(a b)=1
    //   bits: (a a) → ⌊log2 3⌋−⌊log2 2⌋ = 1−1 = 0 (twice)
    //         (a b) → 1−0 = 1           → n_bi=3, bits=1
    // doc 2 "c": too short → (0, 0)
    // doc 3 "b a": c(b·)=1, c(b a)=1 → 0−0 = 0 → n_bi=1, bits=0
    //   (and its 'b a' raises c(b·) only — contexts, not raw unigrams:
    //    doc 1's final 'b' is NOT a context)
    val docs = Seq((1L, "a a a b"), (2L, "c"), (3L, "b a"))
      .toDF("doc_id", "text")
    val got = LanguageModel.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((3L, 1L)), got.toString)
    assert(got(2L) == ((0L, 0L)), got.toString)
    assert(got(3L) == ((1L, 0L)), got.toString)
  }

  test("kneserNeyBigram: hand-derived KN probabilities in the exact " +
       "JVM-double spelling; short docs keep (0,0)") {
    import graft.functions.LanguageModel
    // corpus "a a a b" + "c": bigrams (a a)x2, (a b)x1; c(a·)=3;
    // types {aa, ab} → N1+(a·)=2, N1+(·a)=N1+(·b)=1, N1+(··)=2
    val docs = Seq((1L, "a a a b"), (2L, "c")).toDF("doc_id", "text")
    def kn(c2: Double, c1: Double, n1f: Double, n1b: Double,
           nt: Double): Long =
      math.floor(1000000.0 * (
        (c2 - 0.75) / c1 + ((0.75 * n1f) / c1) * (n1b / nt))).toLong
    val expected = 2 * kn(2, 3, 2, 1, 2) + kn(1, 3, 2, 1, 2)
    val got = LanguageModel.kneserNeyBigram(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((3L, expected)), s"${got(1L)} vs (3, $expected)")
    assert(got(2L) == ((0L, 0L)))
    // sanity: KN mass over each context sums to ~1 (2·p(a|a)·... here:
    // 3 positions carry p(a|a)+p(a|a)+p(b|a), and p(a|a)+p(b|a) = 1)
    assert(kn(2, 3, 2, 1, 2) + kn(1, 3, 2, 1, 2) >= 999998L)
  }

  test("bigramTrainCounts: self-describing (g, c, n1f, n1b) layout — " +
       "context counts, forward/backward type counts, bigram rows") {
    import graft.functions.LanguageModel
    val train = Seq((1L, "a a a b"), (3L, "b a")).toDF("doc_id", "text")
    val rows = LanguageModel.bigramTrainCounts(train).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // unigram rows: c = CONTEXT count (left-element occurrences),
    // n1f = N1+(g·), n1b = N1+(·g)
    assert(rows("a") == ((3L, 2L, 2L)), rows.toString)   // aa,ab / aa,ba
    assert(rows("b") == ((1L, 1L, 1L)), rows.toString)   // ba / ab
    // bigram rows: c = c(prev w), type stats zero
    assert(rows("a a") == ((2L, 0L, 0L)))
    assert(rows("a b") == ((1L, 0L, 0L)))
    assert(rows("b a") == ((1L, 0L, 0L)))
    assert(rows.size == 5)
  }

  test("scoreBigramBitsAgainstCounts arrival semantics: unseen context " +
       "→ n_oov; unseen bigram under seen context → ⌊log2 c1⌋+1 bits") {
    import graft.functions.LanguageModel
    val train = Seq((1L, "a a a b"), (3L, "b a")).toDF("doc_id", "text")
    val counts = LanguageModel.bigramTrainCounts(train)
    val batch = Seq((10L, "a c"), (11L, "z a"), (12L, "a b b a"))
      .toDF("doc_id", "text")
    val got = LanguageModel.scoreBigramBitsAgainstCounts(counts, batch)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // "a c": context a seen (c1=3), bigram unseen → ⌊log2 3⌋+1 = 2 bits
    assert(got(10L) == ((1L, 2L, 0L)), got.toString)
    // "z a": context z unseen → pure OOV, excluded from n_bi
    assert(got(11L) == ((0L, 0L, 1L)), got.toString)
    // "a b" seen (1−0=1), "b b" unseen under b (⌊log2 1⌋+1=1),
    // "b a" seen (0−0=0)
    assert(got(12L) == ((3L, 2L, 0L)), got.toString)
  }

  test("scoreKneserNeyAgainstCounts: KN smooths unseen continuations " +
       "natively; unseen context is the only n_oov; self-scoring " +
       "reproduces kneserNeyBigram bit-for-bit") {
    import graft.functions.LanguageModel
    val train = Seq((1L, "a a a b"), (3L, "b a")).toDF("doc_id", "text")
    val counts = LanguageModel.bigramTrainCounts(train)
    val batch = Seq((10L, "a c"), (11L, "z a"), (12L, "b b"))
      .toDF("doc_id", "text")
    val got = LanguageModel.scoreKneserNeyAgainstCounts(counts, batch)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // ntypes = Σ n1f = 3
    // "a c": c2=0, c1=3, n1f(a)=2, n1b(c)=0 → 0 + (0.75·2/3)·(0/3) = 0
    assert(got(10L) == ((1L, 0L, 0L)), got.toString)
    assert(got(11L) == ((0L, 0L, 1L)), got.toString)
    // "b b": c2=0, c1=1, n1f(b)=1, n1b(b)=1 → (0.75·1/1)·(1/3) = 0.25
    assert(got(12L) == ((1L, 250000L, 0L)), got.toString)
    // self-scoring equality (the q273/q274 verbatim-oracle contract,
    // pinned here at unit scale): persisted-table scoring == the
    // one-pass form, and bits likewise
    val docs = Seq((1L, "a a a b"), (2L, "c"), (3L, "b a"))
      .toDF("doc_id", "text")
    val cts = LanguageModel.bigramTrainCounts(docs)
    val knIdx = LanguageModel.scoreKneserNeyAgainstCounts(cts, docs)
      .select(col("doc_id"), col("n_bi"), col("kn_micros"))
      .collect().map(_.toSeq).toSet
    val knOne = LanguageModel.kneserNeyBigram(docs)
      .collect().map(_.toSeq).toSet
    assert(knIdx == knOne)
    val bitsIdx = LanguageModel.scoreBigramBitsAgainstCounts(cts, docs)
      .select(col("doc_id"), col("n_bi"), col("bigram_bits"))
      .collect().map(_.toSeq).toSet
    val bitsOne = LanguageModel.bigramSurprisal(docs)
      .collect().map(_.toSeq).toSet
    assert(bitsIdx == bitsOne)
  }

  test("phraseBpe plan depth is constant in merge count (the q263 " +
       "50k-merge survivability pin)") {
    import graft.functions.Vocab
    val docs = (0L until 40L).map(i =>
      (i, Seq.tabulate(24)(j => s"w${(i * 7 + j * 3) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    def depth(p: org.apache.spark.sql.execution.SparkPlan): Int =
      1 + (if (p.children.isEmpty) 0 else p.children.map(depth).max)
    val small = Vocab.phraseBpe(docs, "doc_id", "text",
      rounds = 2, perRound = 2)
    val large = Vocab.phraseBpe(docs, "doc_id", "text",
      rounds = 2, perRound = 512)
    val (ds, dl) = (depth(small.queryExecution.executedPlan),
      depth(large.queryExecution.executedPlan))
    assert(ds == dl,
      s"plan depth must not grow with merge count: perRound=2 → $ds, " +
      s"perRound=512 → $dl")
    // and the merge table really is data, not plan shape: one
    // bpe_encode node in both final plans
    Seq(small, large).foreach { df =>
      val ps = df.queryExecution.executedPlan.toString
      assert("bpe_encode".r.findAllMatchIn(ps).size == 1, ps.take(400))
    }
  }

  test("q246 twin-plant straddle: the fixed frame-56 token energies " +
       "bracket the shared frame-55 energy, so twin fingerprints differ " +
       "in bit 55 exactly (hamming 1 by construction)") {
    import graft.functions.Multimodal
    // energy of token×4 at sample positions base..base+3, exactly the
    // synth formula (md5-prefix-40 % 65536 - 32768, squared and summed)
    def frameEnergy(tok: String, base: Int): Long =
      (0 until 4).map { j =>
        val v = (graft.catalyst.Md5Prefix40.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            tok + "@" + (base + j))) % 65536L).toInt - 32768
        v.toLong * v
      }.sum
    val e55 = frameEnergy("dup180", 220) // shared by both twins
    val eA = frameEnergy("dup9", 224)    // twin A frame 56
    val eB = frameEnergy("dup193", 224)  // twin B frame 56
    assert(e55 == 1322271082L && eA == 3486723474L && eB == 135922290L,
      s"plant energies drifted: e55=$e55 eA=$eA eB=$eB — q246's " +
      "hamming-1 guarantee (and its oracle comment) must be re-derived")
    assert(eB < e55 && e55 < eA, "straddle broken — q246 goes vacuous")
    // end-to-end: two docs that differ ONLY in frame 56 produce hashes
    // exactly one bit apart (bit 55), and the banded pipeline pairs them
    val base = "alpha beta gamma delta"
    def twinText(tok56: String): String =
      (0 until 228).map { i =>
        if (i >= 224) tok56
        else if (i >= 220) "dup180"
        else base.split(" ")(i % 4)
      }.mkString(" ")
    val df = Seq((0L, twinText("dup9")), (2L, twinText("dup193")))
      .toDF("doc_id", "text")
    val fp = Multimodal.audioFingerprintFromPayload(
      Multimodal.withSynthWavPayload(df, "doc_id", "text",
        nEven = 228, nOdd = 228), "id", "payload")
      .collect().map(_.getLong(1))
    assert(fp.length == 2 &&
      java.lang.Long.bitCount(fp(0) ^ fp(1)) == 1 &&
      ((fp(0) ^ fp(1)) >>> 55) == 1L,
      s"twin hashes must differ in bit 55 only: ${fp.mkString(",")}")
    val pairs = Multimodal.nearDupPairsFromHashes(
      fp.toSeq.toDF("h")).collect()
    assert(pairs.length == 1 && pairs.head.getAs[Int]("hamming") == 1)
  }

  test("real AVI decode: MJPEG frame extraction, header frame count, " +
       "scene salts, keyframe selection, guards") {
    import graft.functions.Multimodal
    val text = "alpha beta gamma delta epsilon zeta"
    // container round-trip: 6 frames in, 6 JPEG payloads out, each
    // decoding to the salted block grid it was built from
    val frames = (0 until 6).map { f =>
      Multimodal.encodeJpegGray(
        Multimodal.synthBlockPixelsSalted(text, 36, 28, (f / 2) * 7), 36, 28)
    }
    val avi = Multimodal.encodeAviMjpeg(frames, 36, 28)
    val dec = Multimodal.decodeAviFrames(avi)
    assert(dec.exists(_.length == 6))
    dec.get.zipWithIndex.foreach { case (fb, f) =>
      val px = Multimodal.synthBlockPixelsSalted(text, 36, 28, (f / 2) * 7)
      assert(Multimodal.decodeJpegGray(fb).exists(_._3.sameElements(px)),
        s"frame $f pixels")
    }
    // header count is validated: a movi LIST missing one frame fails soft
    val short = Multimodal.encodeAviMjpeg(frames.take(5), 36, 28)
    // (5 declared, 5 present — decodes; then corrupt the declared count)
    assert(Multimodal.decodeAviFrames(short).exists(_.length == 5))
    val lying = short.clone()
    // avih dwTotalFrames lives at hdrl(12)+avih(8)+16 = RIFF(12)+LIST hdr
    val avihAt = short.indices.find(i =>
      short.slice(i, i + 4).sameElements("avih".getBytes)).get
    lying(avihAt + 8 + 16) = 9
    assert(Multimodal.decodeAviFrames(lying).isEmpty, "frame-count lie")
    assert(Multimodal.decodeAviFrames("RIFFxxxxWAVE".getBytes).isEmpty,
      "not an AVI")
    assert(Multimodal.decodeAviFrames(avi.take(40)).isEmpty, "truncated")
    // scene structure end-to-end: even ids cut every 2 frames (scenes
    // 0,0,1,1,2,2 → boundaries at f=2,4 → mask 2^1 + 2^3 = 10), odd ids
    // every 3 (boundary at f=3 → mask 4) — over hashes, not pixels
    val df = Seq((2L, text), (3L, text)).toDF("doc_id", "text")
    val fh = Multimodal.videoFrameHashes(
      Multimodal.withSynthAviPayload(df, "doc_id", "text"), "id", "payload")
    assert(fh.count() == 12 && fh.filter(col("h").isNull).count() == 0)
    val hs = fh.collect().map(r =>
      (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(hs((2L, 0)) == hs((2L, 1)) && hs((2L, 2)) == hs((2L, 3)) &&
      hs((2L, 4)) == hs((2L, 5)), "even id: 3 scenes of 2")
    assert(hs((3L, 0)) == hs((3L, 2)) && hs((3L, 3)) == hs((3L, 5)),
      "odd id: 2 scenes of 3")
  }

  test("real GIF decode: LZW round-trip, code-width growth + CLEAR " +
       "reset, cScSc corner, interlace, LCT, palette mapping, guards") {
    import graft.functions.Multimodal
    // round-trip at the resample source size (both row orders)
    val px = Multimodal.synthPixels("alpha beta gamma delta epsilon", 18, 14)
    assert(Multimodal.decodeGifGray(Multimodal.encodeGif(px, 18, 14))
      .exists { case (w, h, p) => w == 18 && h == 14 && p.sameElements(px) })
    assert(Multimodal.decodeGifGray(
        Multimodal.encodeGif(px, 18, 14, interlaced = true))
      .exists { case (w, h, p) => w == 18 && h == 14 && p.sameElements(px) })
    // dictionary stress: 120×100 pseudo-random pixels force the string
    // table through every width (9→12 bits) AND a table-full CLEAR
    // reset — a pixel-exact round-trip pins the deferred-bump discipline
    // on both sides (an early-change encoder or decoder shears here)
    val big = Array.tabulate(120 * 100)(j => ((j * 2654435761L) >>> 7).toInt & 0xff)
    assert(Multimodal.decodeGifGray(Multimodal.encodeGif(big, 120, 100))
      .exists { case (w, h, p) => w == 120 && h == 100 && p.sameElements(big) })
    // cScSc corner: a constant raster makes the decoder read a code
    // EQUAL to its next unassigned slot on the second symbol
    val flat = Array.fill(16 * 4)(42)
    assert(Multimodal.decodeGifGray(Multimodal.encodeGif(flat, 16, 4))
      .exists(_._3.sameElements(flat)))
    // non-identity palette: rewrite the gray ramp so index i decodes to
    // (2i + min(i+3,255))/3 — proves pixels go THROUGH the color table
    val enc = Multimodal.encodeGif(px, 18, 14)
    val remap = enc.clone()
    for (i <- 0 until 256) {
      remap(13 + i * 3 + 2) = math.min(i + 3, 255).toByte
    }
    val expected = px.map(v => (2 * v + math.min(v + 3, 255)) / 3)
    assert(Multimodal.decodeGifGray(remap).exists(_._3.sameElements(expected)))
    // local color table: move the 768-byte table after the image
    // descriptor and flip the GCT/LCT flags — same decoded pixels
    val gct = enc.slice(13, 13 + 768)
    val desc = enc.slice(13 + 768, 13 + 768 + 10)
    desc(9) = (desc(9) | 0x87).toByte // LCT present, 256 entries
    val lsd = enc.slice(0, 13)
    lsd(10) = (lsd(10) & 0x7f).toByte // GCT absent
    val lct = lsd ++ desc ++ gct ++ enc.drop(13 + 768 + 10)
    assert(Multimodal.decodeGifGray(lct).exists { case (w, h, p) =>
      w == 18 && h == 14 && p.sameElements(px) })
    // GIF87a accepted alongside 89a
    val g87 = enc.clone(); g87(4) = '7'
    assert(Multimodal.decodeGifGray(g87).exists(_._3.sameElements(px)))
    // guards: truncated stream, non-GIF bytes, crafted 65535×65535
    // descriptor (bomb guard), trailer-before-image all fail soft
    assert(Multimodal.decodeGifGray(enc.take(enc.length - 10)).isEmpty)
    assert(Multimodal.decodeGifGray("not a gif at all".getBytes).isEmpty)
    val bomb = enc.clone()
    bomb(13 + 768 + 5) = 0xff.toByte; bomb(13 + 768 + 6) = 0xff.toByte
    bomb(13 + 768 + 7) = 0xff.toByte; bomb(13 + 768 + 8) = 0xff.toByte
    assert(Multimodal.decodeGifGray(bomb).isEmpty)
    assert(Multimodal.decodeGifGray(
      "GIF89a".getBytes ++ Array[Byte](1, 0, 1, 0, 0, 0, 0, 0x3b)).isEmpty)
    // dhashFromPayload routes GIF payloads through the real decoder and
    // the hash equals the PGM path's over the same pixels
    import spark.implicits._
    val both2 = Multimodal.dhashFromPayload(Seq(
        (1L, Multimodal.encodeGif(px, 18, 14, interlaced = true)),
        (2L, Multimodal.encodePgm(px, 18, 14))).toDF("id", "payload"),
      "id", "payload").collect().map(r => (r.getLong(0),
        r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(both2(0)._3 == "gif" && both2(1)._3 == "pgm")
    assert(both2(0)._2 == both2(1)._2)
  }

  test("real PGM/BMP decode: byte-exact round-trips, comment-tolerant " +
       "headers, top-down BMP, and the 9×7 real path equals the stub " +
       "kernel hash") {
    import graft.functions.Multimodal
    // PGM round-trip at the resample source size
    val px = Multimodal.synthPixels("alpha beta gamma delta epsilon", 18, 14)
    val pgm = Multimodal.decodePgmGray(Multimodal.encodePgm(px, 18, 14))
    assert(pgm.exists { case (w, h, p) =>
      w == 18 && h == 14 && p.sameElements(px) })
    // BMP round-trip (bottom-up encode, padded rows)
    val px2 = Multimodal.synthPixels("zeta eta theta iota", 9, 7)
    val bmp = Multimodal.decodeBmpGray(Multimodal.encodeBmp24(px2, 9, 7))
    assert(bmp.exists { case (w, h, p) =>
      w == 9 && h == 7 && p.sameElements(px2) })
    // PGM comment + whitespace tolerance
    val commented = ("P5\n# synthetic test image\n2 2\n255\n"
      .getBytes("US-ASCII")) ++ Array[Byte](1, 2, 3, 4)
    assert(Multimodal.decodePgmGray(commented).exists { case (w, h, p) =>
      w == 2 && h == 2 && p.sameElements(Array(1, 2, 3, 4)) })
    // top-down BMP: same bytes with negative height decode as the
    // vertical flip of the bottom-up interpretation
    val enc = Multimodal.encodeBmp24(px2, 9, 7)
    enc(22) = (-7 & 0xff).toByte; enc(23) = 0xff.toByte
    enc(24) = 0xff.toByte; enc(25) = 0xff.toByte
    val flipped = Multimodal.decodeBmpGray(enc).get._3
    (0 until 7).foreach { r => (0 until 9).foreach { c =>
      assert(flipped(r * 9 + c) == px2((6 - r) * 9 + c)) } }
    // garbage rejects cleanly
    assert(Multimodal.decodePgmGray("P6\n1 1\n255\nx".getBytes).isEmpty)
    assert(Multimodal.decodeBmpGray(Array[Byte](1, 2, 3)).isEmpty)
    // malformed headers must return None, never crash (the decode
    // contract): PGM dims whose product overflows Int; BMP with
    // Int.MinValue height (abs-negative trap), negative data offset,
    // and a width whose w*3 would overflow
    assert(Multimodal.decodePgmGray(
      ("P5\n65536 65536\n255\n".getBytes("US-ASCII") :+ 1.toByte)).isEmpty)
    def bmpWith(patch: (Int, Int)*): Array[Byte] = {
      val b = Multimodal.encodeBmp24(px2, 9, 7)
      patch.foreach { case (i, v) => b(i) = v.toByte }
      b
    }
    assert(Multimodal.decodeBmpGray(
      bmpWith(22 -> 0x00, 23 -> 0x00, 24 -> 0x00, 25 -> 0x80)).isEmpty)
    assert(Multimodal.decodeBmpGray(
      bmpWith(10 -> 0xff, 11 -> 0xff, 12 -> 0xff, 13 -> 0xff)).isEmpty)
    assert(Multimodal.decodeBmpGray(
      bmpWith(18 -> 0xff, 19 -> 0xff, 20 -> 0xff, 21 -> 0x7f)).isEmpty)
    // a NULL payload row yields (id, null, null) — not a task NPE
    val nullRow = Multimodal.dhashFromPayload(
      Seq((1L, "x".getBytes), (2L, null.asInstanceOf[Array[Byte]]))
        .toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2)))
      .toMap
    assert(nullRow(2L) == ((true, true)))
    assert(nullRow(1L) == ((true, true))) // "x" is not PGM/BMP either
    // odd ids ride the 9×7 BMP path whose synth grid matches the stub's
    // formula exactly — so the REAL decode chain must reproduce the
    // stub kernel's hash bit for bit on corpus docs
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 1).limit(60)
    val real = Multimodal.dhashFromPayload(
        Multimodal.withSynthImagePayload(docs, "doc_id", "text"),
        "id", "payload")
      .select(col("id"), col("h"), col("format"))
    val stub = docs.select(col("doc_id").as("id"),
      Multimodal.dHashStub(col("text")).as("sh"))
    val joined = real.join(stub, Seq("id"))
    assert(joined.filter(col("format") =!= "bmp").count() == 0)
    assert(joined.filter(col("h") =!= col("sh")).count() == 0,
      "real BMP decode chain diverged from the stub kernel")
  }

  test("image header parsing reads PNG/GIF/JPEG dimensions from raw bytes") {
    import graft.functions.Multimodal.imageDims
    // minimal PNG: signature + IHDR length/type + 640x480 dims
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80, 0, 0, 0x01, 0xe0).map(_.toByte)
    assert(imageDims(png).contains(("png", 640, 480)))
    // GIF89a, 320x200 little-endian
    val gif = Array[Int]('G', 'I', 'F', '8', '9', 'a',
      0x40, 0x01, 0xc8, 0x00).map(_.toByte)
    assert(imageDims(gif).contains(("gif", 320, 200)))
    // JPEG: SOI, APP0 (length 4, empty), SOF0 with 100x80
    val jpg = Array[Int](
      0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x50, 0x00, 0x64, 0x01,
      0x00, 0x00, 0x00).map(_.toByte)
    assert(imageDims(jpg).contains(("jpeg", 100, 80)))
    assert(imageDims("not an image".getBytes).isEmpty)
    // fill bytes (FF runs) before a marker are spec-legal padding
    val jpgPadded = Array[Int](
      0xff, 0xd8,
      0xff, 0xff, 0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x50, 0x00, 0x64, 0x01).map(_.toByte)
    assert(imageDims(jpgPadded).contains(("jpeg", 100, 80)))
    // DataFrame plumbing: nulls for unrecognized payloads
    val df = Seq((1L, png), (2L, "junk".getBytes)).toDF("doc_id", "payload")
    val meta = Multimodal.withImageMeta(df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(meta == Map(1L -> Some("png"), 2L -> None))
  }

  test("decodeWavPcm16 chunk-order guards: data-before-fmt and duplicate " +
       "fmt/data chunks refuse (RIFF/WAVE spec, round-11 advice)") {
    import graft.functions.Multimodal
    val good = Multimodal.encodeWavPcm16(Array(1, -2, 3, -4), rate = 8000)
    assert(Multimodal.decodeWavPcm16(good).exists(_._2.toSeq ==
      Seq(1, -2, 3, -4)))
    // layout: RIFF header 12 + fmt chunk (8+16) + data chunk (8 + 2n)
    val fmtChunk = good.slice(12, 36)
    val dataChunk = good.slice(36, good.length)
    assert(Multimodal.decodeWavPcm16(
      good.take(12) ++ dataChunk ++ fmtChunk).isEmpty,
      "data before fmt must refuse, not last-wins")
    assert(Multimodal.decodeWavPcm16(
      good.take(12) ++ fmtChunk ++ fmtChunk ++ dataChunk).isEmpty,
      "duplicate fmt must refuse")
    assert(Multimodal.decodeWavPcm16(good ++ dataChunk).isEmpty,
      "duplicate data must refuse")
    // round-12 advice: an INVALID first fmt (stereo) followed by a valid
    // fmt must still refuse — fmt presence is tracked, not fmt validity
    val badFmt = fmtChunk.clone()
    badFmt(10) = 2 // channels le16 low byte → stereo (invalid for PCM16 mono)
    assert(Multimodal.decodeWavPcm16(
      good.take(12) ++ badFmt ++ fmtChunk ++ dataChunk).isEmpty,
      "invalid-fmt then valid-fmt must refuse, not last-wins")
  }

  test("audioMeta parses the RIFF fmt chunk little-endian; rejects non-RIFF") {
    import graft.functions.Multimodal.audioMeta
    // canonical 36-byte header: stereo, 44100 Hz, 16-bit
    val wav = (Array[Int]('R', 'I', 'F', 'F', 0x24, 0, 0, 0,
      'W', 'A', 'V', 'E', 'f', 'm', 't', ' ',
      16, 0, 0, 0, 1, 0,
      2, 0,                      // channels le16
      0x44, 0xac, 0x00, 0x00,    // 44100 le32
      0, 0, 0, 0, 0, 0,
      16, 0)                     // bits le16
      ).map(_.toByte)
    assert(audioMeta(wav).contains((2, 44100, 16)))
    assert(audioMeta("RIFFbutnotwave_padding_padding_padding".getBytes).isEmpty)
    assert(audioMeta(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("int8 quantization bounds reconstruction error; zero vector safe") {
    val vs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.127f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = graft.functions.Similarity.quantizeInt8(col("embedding"))
    val out = vs.select(col("vec_id"), col("embedding"),
        q.getField("scale").as("scale"),
        q.getField("codes").as("codes"),
        graft.functions.Similarity.dequantizeInt8(q).as("deq"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    val scale = r1.getFloat(2)
    assert(math.abs(scale - 1.0f / 127) < 1e-7)
    val codes = r1.getSeq[Byte](3)
    assert(codes.forall(c => c >= -127 && c <= 127))
    val orig = r1.getSeq[Float](1); val deq = r1.getSeq[Float](4)
    orig.zip(deq).foreach { case (o, d) =>
      assert(math.abs(o - d) <= scale / 2 + 1e-6, s"$o vs $d") }
    val r2 = out(2L)
    assert(r2.getFloat(2) == 0.0f)
    assert(r2.getSeq[Byte](3).forall(_ == 0))
    assert(r2.getSeq[Float](4).forall(_ == 0.0f))
  }

  test("minhash_agg over a one-row group equals minhash_sig; union merges") {
    val df = Seq(("a", "x y"), ("a", "z"), ("b", "x y z")).toDF("g", "text")
    val agg = df.groupBy(col("g"))
      .agg(graft.catalyst.MinHashAgg(TA.tokens(col("text")), 8).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val single = Seq("x y z").toDF("text")
      .select(graft.catalyst.MinHashSig(TA.tokens(col("text")), 8).as("sig"))
      .collect().head.getSeq[Long](0)
    // group b = one document "x y z"
    assert(agg("b") == single)
    // group a = {"x y"} ∪ {"z"} — same token UNION as "x y z"
    assert(agg("a") == single)
  }

  test("fingerprint is order-sensitive") {
    val a = one[Long](TA.fingerprint(col("text")), "a b c")
    val b = one[Long](TA.fingerprint(col("text")), "c b a")
    assert(a != b)
    assert(a == one[Long](TA.fingerprint(col("text")), "a b c"))
  }

  test("exact dedup groups normalized variants") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val r = Dedup.exactDedup(df, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(r == Set((1L, 2L), (3L, 1L))) // keep_id 1 with 2 dups
  }

  test("setSimilarityJoin: exact threshold boundary, prefix keeps the " +
       "qualifying pair, identical docs score 1.0") {
    // 17 tokens → 10 8-gram shingles. Changing the LAST token touches
    // only shingle 10 → inter 9, J = 9/11 ≈ 0.818 ≥ 4/5 (KEPT, floor
    // micros 818181). Changing token 16 touches shingles 9 AND 10 →
    // inter 8, J = 8/12 < 4/5 (DROPPED). Identical docs: J = 1.
    val toks = (1 to 17).map(i => s"w$i")
    val a = toks.mkString(" ")
    val b = (toks.init :+ "CHANGED").mkString(" ")
    val c = (toks.updated(15, "ALSO") :+ "").mkString(" ").trim
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, a)).toDF("doc_id", "text")
    val r = Dedup.setSimilarityJoin(df, "doc_id", "text", n = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    assert(r.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(r((1L, 2L)) == (9L, 818181L))
    assert(r((1L, 4L)) == (10L, 1000000L))
    // (2,4) is b-vs-a again: same overlap as (1,2)
    assert(r((2L, 4L)) == (9L, 818181L))
    // doc 3 differs in two shingles from a → below threshold, absent
    assert(!r.keySet.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("minhash signature: identical texts agree, length k") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z"))
      .toDF("id", "text")
    val sigs = df.select(col("id"), Dedup.minhashSignature(col("text"), 16).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 16)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("incremental near-dup flags batch docs colliding with the corpus only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an unrelated corpus document about spark engines and scale"),
      (5L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // dup of 1,5
      (11L, "a genuinely novel batch document with fresh content entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the duplicate flags with the SMALLEST matching corpus id and counts
    // both corpus matches; the novel doc is absent (no bucket collision)
    assert(got == Map(10L -> (1L, 2L)))
    // batch-internal duplicates never flag each other (batch x batch is
    // not a candidate source — only the corpus side is)
    val batchDup = Seq(
      (20L, "zebra xylophone quartz jigsaw vortex mystery puzzle engine"),
      (21L, "zebra xylophone quartz jigsaw vortex mystery puzzle engine")
    ).toDF("doc_id", "text")
    assert(Dedup.incrementalNearDups(corpus, batchDup, "doc_id", "text").count() == 0)
  }

  test("minhash clusters map near-identical docs to one canonical id") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text about spark engines and scale")
    ).toDF("doc_id", "text")
    val m = Dedup.minhashClusters(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 3L)
  }

  test("transitive minhash clusters = connected components of the band graph") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (res, iters) = Dedup.minhashClustersTransitiveStats(df, "doc_id", "text")
    assert(iters > 0 && iters < 30, s"did not converge within bound: $iters")
    val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent oracle: union-find over bucket co-membership pairs
    // (union-by-min keeps each component's root at its minimum id)
    val pairs = Dedup.minhashCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expected = got.keys.map(id => id -> find(id)).toMap
    assert(got == expected)
  }

  test("transitive clusters merge a 2-hop chain that single-hop splits") {
    // A~B and B~C share band buckets; A and C need the hop through B
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val mid = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val far = "alpha beta gamma delta epsilon zeta eta theta iota kappa nu xi"
    val df = Seq((1L, base), (2L, mid), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the fixture must actually form a chain for this test to be meaningful
    assume(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)), s"fixture drifted: $pairs")
    val trans = Dedup.minhashClustersTransitive(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trans == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val single = Dedup.minhashClusters(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single(3L) == 2L, "single-hop should stop at B for C")
  }

  test("transitiveClustersOver fails DIRECTED when the component diameter " +
    "exceeds maxIters, and requireConvergence=false returns partial labels") {
    // a 40-node path graph: bucket i links node i and i+1. Even with the
    // pointer-jumping shortcut (distance shrinks ~5× per round), the min
    // label 0 cannot reach node 39 in 2 rounds — maxIters=2 is provably
    // too few, and silent partial labels would be WRONG clusters
    val rows = (0L until 39L).flatMap(i =>
      Seq((i, 0, i.toString), (i + 1, 0, i.toString)))
      .toDF("id", "band", "key")
    for (budget <- Seq(1, 2)) {
      val ex = interceptNoLeak[IllegalStateException] {
        Dedup.transitiveClustersOver(rows, maxIters = budget)
      }
      assert(ex.getMessage.contains("did NOT reach its fixed point"))
      assert(ex.getMessage.contains(s"maxIters=$budget"))
    }
    // the escape hatch hands back the (labels, iters) pair un-thrown:
    // iters == maxIters marks non-convergence, labels are the partial state
    val (partial, iters) =
      Dedup.transitiveClustersOver(rows, maxIters = 2, requireConvergence = false)
    assert(iters == 2)
    val lbl = partial.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl(0L) == 0L && lbl(39L) > 0L, s"chain tail converged early: $lbl")
    // with headroom the same graph converges to one component rooted at 0
    val (full, it2) = Dedup.transitiveClustersOver(rows, maxIters = 30)
    assert(it2 < 30)
    assert(full.collect().forall(_.getLong(1) == 0L))
  }

  test("winnow HOF fold path fails loudly past the 2^20-gram packed-state " +
    "domain (same guard as the kernel path)") {
    val wide = Array.fill(1048580)("a").mkString(" ")
    val docs = Seq((1L, wide)).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.winnow(docs, "doc_id", "text", n = 4, w = 4, useKernel = false)
        .count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("2^20")), msgs(ex).mkString(" | "))
  }

  test("simhash: hamming distance small for similar docs, large for different") {
    val df = Seq(
      ("a", "spark query engine with columnar execution and codegen"),
      ("b", "spark query engine with columnar execution and codegen speed"),
      ("c", "zebra yak xylophone walrus vulture unicorn tapir")
    ).toDF("id", "text")
    val h = df.select(col("id"), Dedup.simhash32(col("text")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(h("a"), h("b")) < ham(h("a"), h("c")))
  }

  test("jaccard micros: identical=1e6, disjoint=0") {
    val df = Seq(("a b c", "a b c"), ("a b c", "x y z")).toDF("t1", "t2")
    val r = df.select(Dedup.jaccardMicros(split(col("t1"), " "),
      split(col("t2"), " ")).as("j")).collect().map(_.getLong(0))
    assert(r.toSeq == Seq(1000000L, 0L))
  }

  test("shingles are order-preserving 3-grams") {
    val r = Seq("a b c d").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("s"))
      .collect().head.getSeq[String](0)
    assert(r == Seq("a b c", "b c d"))
  }

  test("cosine similarity: orthogonal=0, parallel=1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(2.0f, 2.0f))
    ).toDF("a", "b")
    val r = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(r(0) == 0.0 && r(1) == 1.0)
  }

  test("brute-force knn excludes self and ranks by similarity") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceKnn(df, df.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(r.toSet == Set((3L, 1), (1L, 2))) // nearest is vec 3, then vec 1
  }

  test("mrlTruncationAudit: a prefix-dominant neighbor wins the " +
       "truncated ranking and is flagged against the full top-k (q308)") {
    // query 0: prefix (first 2 dims) points at (1,0); full 4-dim adds a
    // tail. vec 1 matches the TAIL (full winner), vec 2 matches the
    // PREFIX (truncated winner) — truncation flips the ranking.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 1.0f)),
      (1L, Array(0.1f, 0.0f, 1.0f, 1.0f)), // full winner, weak prefix
      (2L, Array(1.0f, 0.0f, -1.0f, -1.0f)), // prefix twin, opposed tail
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))  // orthogonal everywhere
    ).toDF("vec_id", "embedding")
    val r = Similarity.mrlTruncationAudit(df,
        df.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 2, dims = 2)
      .collect().map(x => (x.getLong(1), x.getInt(2), x.getBoolean(4)))
    // truncated top-2: vec 2 (prefix cosine 1.0, rank 1 — NOT in the
    // full top-2) then vec 1 (prefix 1.0 too but id tie-break? no:
    // prefix(1) = (0.1, 0) → cosine 1.0 with (1,0)! both rank by id)
    // — both prefix-parallel: rank 1 = vec 1 (id asc), rank 2 = vec 2.
    // vec 1 IS in the full top-2; vec 2 is not.
    assert(r.toSet == Set((1L, 1, true), (2L, 2, false)), r.mkString(","))
  }

  test("wordPieceMerges: hand-computed likelihood argmax — ties break " +
       "(l, r) asc, ## strips on merge, training exhausts when no pair " +
       "remains") {
    import graft.functions.Vocab
    // corpus: aab ×3, ab ×2 → seeds ' a ##a ##b '(3), ' a ##b '(2)
    // round 1: (a,##a) 3/(5·3) ties (##a,##b) 3/(3·5) → '##a' < 'a'
    //   picks (##a,##b) → '##ab'
    // round 2: (a,##ab) 3/(5·3) ties (a,##b) 2/(5·2)? no: 2/10 = 0.2
    //   ties too — r tie-break '##ab' < '##b' picks (a,##ab) → 'aab'
    // round 3: only (a,##b) 2/(2·2) remains → 'ab'; then exhausted
    val docs = Seq((1L, "aab aab aab ab ab")).toDF("doc_id", "text")
    val m = Vocab.wordPieceMerges(docs, "text", nMerges = 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(m == Seq(
      (1, "##a", "##b", "##ab", 3L, 3L, 5L),
      (2, "a", "##ab", "aab", 3L, 5L, 3L),
      (3, "a", "##b", "ab", 2L, 2L, 2L)), m.toString)
    // greedy encode: 'aab'/'ab' are whole pieces; 'ba' starts with a
    // char never seen word-initial → [UNK]
    val vocab = Vocab.wordPieceVocab(docs, "text",
      Vocab.wordPieceMerges(docs, "text", 8))
    val enc = Vocab.wordPieceEncode(
        Seq((2L, "aab ab ba")).toDF("doc_id", "text"),
        "doc_id", "text", vocab)
      .collect().head
    assert((enc.getLong(1), enc.getLong(2), enc.getLong(3)) ==
      ((3L, 3L, 1L)), enc.toString)
  }

  test("wordPieceEncode: walks by CODEPOINTS — supplementary chars are " +
       "one greedy position, matching the codepoint seeding regex and " +
       "the DuckDB len/slice oracle (r15 advice)") {
    import graft.functions.Vocab
    // 𝕏 (U+1D54F) is 2 UTF-16 units / 1 codepoint
    val vocab = Set("a", "##𝕏", "##b", "a𝕏")
    val enc = Vocab.wordPieceEncode(
        Seq((1L, "a𝕏b 𝕏")).toDF("doc_id", "text"),
        "doc_id", "text", vocab)
      .collect().head
    // 'a𝕏b' → greedy longest-first: 'a𝕏' (2 cps) + '##b' = 2 pieces;
    // '𝕏' has no word-initial form in the vocab → [UNK]
    assert((enc.getLong(1), enc.getLong(2), enc.getLong(3)) ==
      ((2L, 3L, 1L)), enc.toString)
  }

  test("rrfFuse: hand-computed reciprocal-rank fusion — a both-leg doc " +
       "sums two contributions, single-leg docs one, absent rank = 0 " +
       "(the generator-agnostic step q313 composes over indexes)") {
    import graft.functions.Relevance
    val lex = Seq((1L, 1), (2L, 2)).toDF("doc_id", "lr")
    val dense = Seq((2L, 1), (3L, 2)).toDF("doc_id", "dr")
    val r = Relevance.rrfFuse(lex, dense, topK = 10)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2),
        x.getLong(3)))
    // doc2: 1/62 + 1/61 → 32522 µ; doc1: 1/61 → 16393; doc3: 1/62 → 16129
    assert(r.toSeq == Seq((2L, 2, 1, 32522L), (1L, 1, 0, 16393L),
      (3L, 0, 2, 16129L)), r.mkString(","))
  }

  test("rrfFusePerQuery: hand-computed per-query fusion — each query " +
       "fuses ITS legs independently, ranks never cross queries " +
       "(r15 verdict #2)") {
    import graft.functions.Relevance
    val lex = Seq((0L, 1L, 1), (0L, 2L, 2), (1L, 2L, 1))
      .toDF("query_id", "doc_id", "lr")
    val dense = Seq((0L, 2L, 1), (1L, 3L, 1))
      .toDF("query_id", "doc_id", "dr")
    val r = Relevance.rrfFusePerQuery(lex, dense, topK = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2),
        x.getInt(3), x.getLong(4))).toSet
    // q0: doc2 = 1/62 + 1/61 = 32522µ, doc1 = 1/61 = 16393µ
    // q1: doc2 = 1/61 (lex only), doc3 = 1/61 (dense only)
    assert(r == Set(
      (0L, 2L, 2, 1, 32522L), (0L, 1L, 1, 0, 16393L),
      (1L, 2L, 1, 0, 16393L), (1L, 3L, 0, 1, 16393L)), r.toString)
  }

  test("bm25FromIndexMulti: row-identical to per-query bm25FromIndex " +
       "over the same postings — the union probe changes the plan, " +
       "never a score (r15 verdict #2)") {
    import graft.functions.{InvertedIndex, Relevance}
    val docs = Seq((1L, "a b a c"), (2L, "b c d"), (3L, "a d d e"))
      .toDF("doc_id", "text")
    val postings = InvertedIndex.buildWithDl(docs, "doc_id", "text")
    val stats = Relevance.corpusStats(docs, "text")
    val qs = Seq(0L -> Seq("a", "d"), 1L -> Seq("b"), 2L -> Seq("d", "e"))
    val multi = Relevance.bm25FromIndexMulti(postings, stats, qs, legK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = qs.flatMap { case (qid, ts) =>
      Relevance.bm25FromIndex(postings, stats, ts, topK = 10)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(multi == single, s"multi=$multi single=$single")
    assert(multi.map(_._1) == Set(0L, 1L, 2L))
  }

  test("mrlTruncationAudit: dims out of range refuses directed — " +
       "dims < 1 and dims > the stored width (r14 advice: slice() " +
       "would silently shorten and skew the audit)") {
    val df = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") === 0)
    intercept[IllegalArgumentException] {
      Similarity.mrlTruncationAudit(df, q, "vec_id", "embedding",
        k = 1, dims = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.mrlTruncationAudit(df, q, "vec_id", "embedding",
        k = 1, dims = 3)
    }
  }

  test("tableRecords: a table with MORE than one <th> row refuses " +
       "directed — joining all header rows would silently duplicate " +
       "every body record (r14 advice)") {
    import graft.functions.Html
    def cells(rows: (Long, Int, Int, Int, Boolean, String)*) =
      rows.toDF("id", "table_idx", "row_idx", "col_idx", "is_header",
        "text")
    // single header row: records key on it, no refusal
    val ok = Html.tableRecords(cells(
      (1L, 0, 0, 0, true, "h0"), (1L, 0, 0, 1, true, "h1"),
      (1L, 0, 1, 0, false, "a"), (1L, 0, 1, 1, false, "b")))
      .collect().map(r => (r.getString(3), r.getString(4))).toSet
    assert(ok == Set(("h0", "a"), ("h1", "b")))
    // two header rows in the SAME table: directed refusal
    val ex = intercept[Exception] {
      Html.tableRecords(cells(
        (2L, 0, 0, 0, true, "h0"), (2L, 0, 1, 0, true, "H0"),
        (2L, 0, 2, 0, false, "a"))).collect()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("multiple <th> rows"), ex.getMessage)
    // two header rows in DIFFERENT tables of one doc: both fine
    val two = Html.tableRecords(cells(
      (3L, 0, 0, 0, true, "x"), (3L, 0, 1, 0, false, "v0"),
      (3L, 1, 0, 0, true, "y"), (3L, 1, 1, 0, false, "v1")))
      .collect().map(r => (r.getInt(1), r.getString(3), r.getString(4)))
      .toSet
    assert(two == Set((0, "x", "v0"), (1, "y", "v1")))
  }

  test("hyperplane bucket is deterministic and stable") {
    val df = Seq((0L, Array(1.0f, -2.0f, 0.5f))).toDF("id", "v")
    val b1 = df.select(Similarity.hyperplaneBucket(col("v"), 8)).collect().head.getLong(0)
    val b2 = df.select(Similarity.hyperplaneBucket(col("v"), 8)).collect().head.getLong(0)
    assert(b1 == b2 && b1 >= 0 && b1 < 256)
  }

  test("multimodal: payload metadata + batched feature extraction") {
    val df = Seq((1L, "hello"), (2L, "world!")).toDF("doc_id", "text")
    val wp = Multimodal.withPayload(df, "text")
    assert(wp.columns.toSet.contains("payload"))
    val bl = wp.filter(col("doc_id") === 2).select("byte_len").collect().head.getInt(0)
    assert(bl == 6)
    val feats = Multimodal.extractFeatures(wp, "doc_id", "payload")
    val r = feats.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(r(1L).length == Multimodal.FeatureDim)
    // deterministic stub
    assert(r(1L) == Multimodal.extractFeatures(wp, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap.apply(1L))
  }

  test("frame sampling emits n byte-frames") {
    val df = Seq(("x", "abcdefgh")).toDF("id", "text")
    val r = df.select(Multimodal.sampleFrames(encode(col("text"), "UTF-8"), 4).as("f"))
      .collect().head.getSeq[Array[Byte]](0)
    assert(r.length == 4)
  }

  test("transitive clusters: empty input converges immediately") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val (out, iters) = graft.functions.Dedup.minhashClustersTransitiveStats(
      empty, "doc_id", "text", maxIters = 30)
    assert(out.count() == 0)
    assert(iters <= 1, s"empty input must not iterate to maxIters (ran $iters)")
  }

  test("repetition metrics: dup-bigram fraction and top-token mass") {
    val df = Seq(
      ("a b a b a b", 600000L, 500000L), // 5 bigrams, 2 distinct → 3 dup; "a"×3/6
      ("x y z w",     0L,      250000L), // all bigrams distinct; each token 1/4
      ("r r r r",     666666L, 1000000L) // 3 identical bigrams → 2 dup; r = 4/4
    ).toDF("text", "dup_expect", "top_expect")
    val got = df.select(
      graft.functions.TextAnalysis.dupNgramFractionMicros(col("text"), 2).as("dup"),
      graft.functions.TextAnalysis.topTokenFractionMicros(col("text")).as("top"),
      col("dup_expect"), col("top_expect")).collect()
    got.foreach { r =>
      assert(r.getAs[Long]("dup") == r.getAs[Long]("dup_expect"), r.toString)
      assert(r.getAs[Long]("top") == r.getAs[Long]("top_expect"), r.toString)
    }
  }

  test("random projection: basis vector e_i maps to sign(i,j)·1e6 exactly") {
    import graft.functions.Projection
    val basis5 = Array.tabulate(64)(i => if (i == 5) 1.0f else 0.0f)
    val df = Seq((0L, basis5)).toDF("vec_id", "embedding")
    val row = df.select((0 until Projection.OutDim)
      .map(j => Projection.projMicros("embedding", j).as(s"p$j")): _*).head()
    (0 until Projection.OutDim).foreach { j =>
      assert(row.getLong(j) == Projection.sign(5, j) * 1000000L, s"j=$j")
    }
    // linearity on a two-hot vector: components add exactly
    val twoHot = Array.tabulate(64)(i => if (i == 3 || i == 7) 0.5f else 0.0f)
    val r2 = Seq((0L, twoHot)).toDF("vec_id", "embedding")
      .select((0 until Projection.OutDim)
        .map(j => Projection.projMicros("embedding", j).as(s"p$j")): _*).head()
    (0 until Projection.OutDim).foreach { j =>
      assert(r2.getLong(j) ==
        (Projection.sign(3, j) + Projection.sign(7, j)) * 500000L, s"j=$j")
    }
    // NON-DEGENERACY: the 8 sign rows, canonicalized up to a global flip,
    // must be pairwise distinct — a linear parity formula collapses them
    // to one alternating pattern (rank-1 projection) while still passing
    // the per-coordinate checks above and any shared-formula oracle
    val rows = (0 until Projection.OutDim).map(j =>
      (0 until Projection.InDim).map(i => Projection.sign(i, j)))
    val canon = rows.map(r => if (r.head < 0) r.map(x => -x) else r)
    assert(canon.distinct.size == Projection.OutDim, "sign matrix degenerate")
  }

  test("projMicros rejects wrong-dimension embeddings with a directed error") {
    import graft.functions.Projection
    // 63 dims: Spark would NULL the component while DuckDB would sum the
    // prefix — the checked precondition fails loudly instead
    val short = Array.tabulate(63)(_ => 1.0f)
    val ex = intercept[Exception] {
      Seq((0L, short)).toDF("vec_id", "embedding")
        .select(Projection.projMicros("embedding", 0)).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + chain(t.getCause)
    assert(chain(ex).contains("projMicros"))
  }

  test("blocked fuzzy match: d=1/2 found, d=3 dropped, boundary pairs join") {
    import graft.functions.FuzzyMatch
    // kitten/sitten d=1 same bucket; kitten/sittin d=2 BUT first chars
    // differ → dropped by blocking (documented recall bound).
    // abcdefghij(10, bkt 5) vs abcdefghijxz(12, bkt 6): d=2 and the
    // lengths STRADDLE a block boundary — found only via the radius-1
    // neighbor expansion (the bug class the round-5 review fixed blind).
    // abcdefghijx(11, bkt 5) d=1 to both. qqqaaa/qqqbbb d=3 → dropped.
    val words = Seq("kitten", "sitten", "sittin",
      "abcdefghij", "abcdefghijx", "abcdefghijxz",
      "qqqaaa", "qqqbbb").toDF("w")
    val got = FuzzyMatch.blockedPairs(words, "w", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(
      ("sitten", "sittin", 1),                 // d=1, same block
      ("abcdefghij", "abcdefghijx", 1),        // d=1, same bucket
      ("abcdefghij", "abcdefghijxz", 2),       // d=2, ACROSS bucket 5→6
      ("abcdefghijx", "abcdefghijxz", 1)))     // d=1, across bucket 5→6
    // d=3 within one block is dropped by the distance filter, not blocking
    assert(!got.exists(p => p._1 == "qqqaaa"))
    // each cross-boundary pair appears exactly once (no double emission
    // from the 3-key expansion)
    val all = FuzzyMatch.blockedPairs(words, "w", maxDist = 2).collect()
    assert(all.length == all.map(r => (r.getString(0), r.getString(1))).distinct.length)
    // expansion radius guard: maxDist beyond bucket coverage fails loudly
    intercept[IllegalArgumentException] {
      FuzzyMatch.blockedPairs(words, "w", maxDist = 3)
    }
  }

  // hand-computed oracle, n=3 minDocs=2:
  //   doc1 "a b c d e f"        → grams at 1:"a b c" 2:"b c d" 3:"c d e" 4:"d e f"
  //   doc2 "z a b c d q"        → 1:"z a b" 2:"a b c" 3:"b c d" 4:"c d q"
  //   doc4 "a b c x x x b c d"  → 1:"a b c" 2:"b c x" … 7:"b c d"
  // shared grams: "a b c" (docs 1,2,4), "b c d" (docs 1,2,4). Hits:
  // doc1 pos {1,2} → ONE island (span 1..2, 4 tokens "a b c d");
  // doc2 pos {2,3} → one island; doc4 pos {1,7} → TWO islands of one
  // hit each (the overlap-merge boundary).
  test("duplicatedSpans merges consecutive n-gram hits into maximal spans") {
    val df = Seq(
      (1L, "a b c d e f"), (2L, "z a b c d q"),
      (3L, "q w e r t y"), (4L, "a b c x x x b c d"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got == Set(
      (1L, 1, 2, 2L, 4), (2L, 2, 3, 2L, 4),
      (4L, 1, 1, 1L, 3), (4L, 7, 7, 1L, 3)))
    // doc3 shares nothing; raising minDocs above the doc count empties it
    assert(!got.exists(_._1 == 3L))
    assert(Dedup.duplicatedSpans(df, "doc_id", "text", 3, 4).count() == 0)
  }

  // same fixture + doc5/doc6 = "a b c" verbatim (fully duplicated docs):
  // every duplicated span is deleted from EVERY doc (boilerplate strip),
  // untouched docs pass through verbatim, fully-covered docs survive as
  // empty rows rather than vanishing.
  test("stripDuplicatedSpans deletes spans everywhere and reassembles text") {
    val df = Seq(
      (1L, "a b c d e f"), (2L, "z a b c d q"),
      (3L, "q w e r t y"), (4L, "a b c x x x b c d"),
      (5L, "a b c"), (6L, "a b c"))
      .toDF("doc_id", "text")
    val got = Dedup.stripDuplicatedSpans(df, "doc_id", "text", 3, 2)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "e f", 2L, 4L),        // span 1..4 ("a b c d") removed
      (2L, "z q", 2L, 4L),        // span 2..5 removed, ends survive
      (3L, "q w e r t y", 6L, 0L), // untouched
      (4L, "x x x", 3L, 6L),      // two islands: 1..3 and 7..9 removed
      (5L, "", 0L, 3L), (6L, "", 0L, 3L))) // fully covered, still present
  }

  // hand-computed: pairs (the,cat)×2 (cat,sat)×2 (cat,ran) (a,cat);
  // unigrams the=2 cat=3 sat=2 ran=1 a=1. minCount=2 keeps the two
  // doubles; dice = 2e6·2/(2+3) = 800000 for both; the c12 tie breaks
  // on w1 so (cat,sat) ranks before (the,cat).
  test("collocations: exact integer Dice, deterministic tie-broken top-k") {
    val df = Seq("the cat sat", "the cat ran", "a cat sat").toDF("text")
    val got = TA.collocations(df, "text", minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("cat", "sat", 2L, 3L, 2L, 800000L),
      ("the", "cat", 2L, 2L, 3L, 800000L)))
    // k=1 must cut exactly at the tiebreak order
    assert(TA.collocations(df, "text", 2L, 1)
      .collect().map(_.getString(0)).toSeq == Seq("cat"))
  }

  test("Snapshot.upsert: update bumps version and replaces payload " +
       "(including to null), insert starts at 1, untouched rows carry through") {
    import graft.functions.Snapshot
    val snap = Seq((1L, "old-a", 3L), (2L, "old-b", 1L), (3L, "old-c", 7L))
      .toDF("id", "txt", "version")
    val batch = Seq((1L, Some("new-a")), (3L, None), (9L, Some("ins")))
      .toDF("id", "txt")
    val out = Snapshot.upsert(snap, batch, "id", Seq("txt"), "version")
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getLong(2))).toSet
    assert(out == Set(
      (1L, Some("new-a"), 4L),  // update: payload replaced, version bumped
      (2L, Some("old-b"), 1L),  // untouched: carried through verbatim
      (3L, None, 8L),           // update to NULL payload still replaces
      (9L, Some("ins"), 1L)))   // insert: version lineage starts at 1
  }

  test("Snapshot.diff: insert/delete/update tagged, unchanged dropped, " +
       "null<->value payload transitions are updates (null-safe compare)") {
    import graft.functions.Snapshot
    val older = Seq((1L, Some("a"), "s1"), (2L, Some("b"), "s1"),
      (3L, None: Option[String], "s1"), (4L, Some("d"), "s1"),
      (5L, Some("e"), "s1")).toDF("id", "txt", "src")
    val newer = Seq((1L, Some("a"), "s1"),            // unchanged -> dropped
      (2L, None: Option[String], "s1"),               // value -> null: update
      (3L, Some("c"), "s1"),                          // null -> value: update
      (5L, Some("e"), "s2"),                          // second payload differs
      (9L, Some("i"), "s1")).toDF("id", "txt", "src") // insert; 4 deleted
    val out = Snapshot.diff(older, newer, "id", Seq("txt", "src"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), r.getString(3))).toSet
    assert(out == Set(
      (2L, "update", None, "s1"),
      (3L, "update", Some("c"), "s1"),
      (4L, "delete", Some("d"), "s1"),  // delete carries the OLD payload
      (5L, "update", Some("e"), "s2"),
      (9L, "insert", Some("i"), "s1")))
  }

  test("Contamination.sourceOverlapMatrix: hand-computed distinct shared " +
       "n-grams per source pair; within-source repeats count once") {
    import graft.functions.Contamination
    val docs = Seq(
      ("A", "p q r"),           // bigrams {pq, qr}
      ("A", "p q r"),           // duplicate doc: must NOT double-count
      ("B", "p q s"),           // {pq, qs}
      ("C", "q r t p q"),       // {qr, rt, tp, pq}
      ("D", "zz ww")            // shares nothing -> absent from the matrix
    ).toDF("source", "text")
    val got = Contamination.sourceOverlapMatrix(docs, "text", "source", n = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("A", "B", 1L),   // pq
      ("A", "C", 2L),   // pq, qr
      ("B", "C", 1L)))  // pq
  }

  test("Snapshot.PingPong: batches publish alternating versions; a replayed " +
       "batchId is a no-op (the foreachBatch idempotency guard)") {
    import graft.functions.Snapshot
    val pp = new Snapshot.PingPong(spark, "graft_test_pp", 2, "id",
      Seq("txt"), "version")
    pp.bootstrap(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "txt", "version"))
    pp.applyBatch(Seq((1L, "a2")).toDF("id", "txt"), 0L)
    pp.applyBatch(Seq((1L, "a2")).toDF("id", "txt"), 0L) // replay: must skip
    pp.applyBatch(Seq((3L, "c")).toDF("id", "txt"), 1L)
    val out = pp.live.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, "a2", 2L),  // updated ONCE despite the replayed batch 0
      (2L, "b", 1L),
      (3L, "c", 1L)))  // batch-1 insert
    Seq("graft_test_pp_a", "graft_test_pp_b")
      .foreach(graft.queries.Tables.dropStagedTable(spark, _))
  }

  test("InvertedIndex: build emits hand-computed (term, doc, tf) postings; " +
       "queryAll is conjunctive with multiplicity-summed total_tf") {
    import graft.functions.InvertedIndex
    val docs = Seq(
      (1L, "x y x z"),   // tf(x)=2 — multiplicity must survive the index
      (2L, "x y"),
      (3L, "y z"),
      (4L, "x")).toDF("id", "text")
    val postings = InvertedIndex.build(docs, "id", "text")
    val built = postings.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(built == Set(
      ("x", 1L, 2L), ("y", 1L, 1L), ("z", 1L, 1L),
      ("x", 2L, 1L), ("y", 2L, 1L),
      ("y", 3L, 1L), ("z", 3L, 1L),
      ("x", 4L, 1L)))
    // ALL-terms semantics: docs 1 and 2 carry both x and y; doc 4 (x only)
    // and doc 3 (y only) must not appear. total_tf counts multiplicity.
    val got = InvertedIndex.queryAll(postings, Seq("x", "y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (2L, 2L, 2L)))
    // single-term degenerates to a membership lookup
    assert(InvertedIndex.queryAll(postings, Seq("z"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("containmentAgainstCorpus: an excerpt scores containment 1e6 with " +
       "sub-threshold jaccard; disjoint and below-threshold batches drop") {
    import spark.implicits._
    // corpus doc 1: tokens cycle x y z then w — distinct set {x,y,z,w}.
    val corpus = Seq(
      (1L, "x y z x y z x y z w"),
      (2L, "p p q q r r s s t t")).toDF("doc_id", "text")
    // batch 10: same DISTINCT token set as doc 1 (identical minhash
    // signature → all four bands collide, recall is deterministic) and
    // every 3-gram ("x y z", "y z w") occurs in doc 1 → containment 1e6.
    // batch 11: tokens disjoint from both docs → no shared bucket, no row.
    val batch = Seq(
      (10L, "x y z w"),
      (11L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val got = graft.functions.Dedup.containmentAgainstCorpus(
      corpus, batch, "doc_id", "text", thresholdMicros = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // doc 1 shingle set (8 shingles): {xyz, yzx, zxy} ×cycled + "y z w";
    // distinct = {"x y z","y z x","z x y","x y w"?..} — compute by hand:
    // windows: xyz yzx zxy xyz yzx zxy xyz yzw → distinct {xyz,yzx,zxy,yzw} = 4
    // batch 10 shingles: {xyz, yzw} = 2, all contained → inter=2,
    // containment = 2e6/2 = 1e6; union = 4 → jaccard = 500000.
    assert(got == Set((10L, 1L, 1000000L, 500000L)), s"got=$got")
  }

  test("dedupReweight: one row per cluster, min-id rep, multiplicity weight") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 10
      (12L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 10
      (20L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupReweight(docs, "doc_id", "text",
        k = 16, bands = 4, maxIters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 3L)          // the triple collapses onto min id 10
    assert(got(20L) == 1L)          // singleton passes at weight 1
    assert(!got.contains(11L) && !got.contains(12L))
    assert(got.values.sum == docs.count())  // weights conserve the corpus
  }

  test("clusterBalancedSample caps a dense cluster, spares the tail, " +
       "ranks 1..cap, and is deterministic") {
    // 60 near-identical vectors (one dense blob) + 12 well-spread ones:
    // the blob must contribute at most perCluster docs, the spread tail
    // survives whole (each alone or near-alone in its cluster)
    val dense = (0 until 60).map(i =>
      (i.toLong, Array(1.0f, 0.001f * i, 0.0f, 0.0f)))
    val spread = (0 until 12).map(i =>
      (100L + i, Array(-1.0f + 0.1f * i, 1.0f, 0.5f * i, -0.3f * i)))
    val df = (dense ++ spread).toDF("vec_id", "embedding")
    val got = Similarity.clusterBalancedSample(df, "vec_id", "embedding",
      nlist = 8, iters = 2, perCluster = 5, salt = "t#")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byCluster = got.groupBy(_._1)
    assert(byCluster.values.forall(_.length <= 5))
    // ranks within a cluster are exactly 1..size
    assert(byCluster.values.forall(g =>
      g.map(_._3).sorted.toSeq == (1 to g.length)))
    // the dense blob was genuinely capped (60 in, ≤ 5·(#blob clusters)
    // out with at least one cluster full), and some tail doc survived
    val denseKept = got.count(_._2 < 60L)
    assert(denseKept < 60 && byCluster.values.exists(_.length == 5))
    assert(got.exists(_._2 >= 100L))
    // deterministic: an independent run returns the identical set
    val again = Similarity.clusterBalancedSample(df, "vec_id", "embedding",
      nlist = 8, iters = 2, perCluster = 5, salt = "t#")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSet == again.toSet)
  }

  test("Md5Prefix60 equals the 15-hex-nibble md5 prefix; wide spans " +
       "match narrow spans on a collision-free corpus") {
    // value parity with the portable SQL spelling, per row
    val probe = Seq("alpha beta", "x", "", "ünïcode tøkens").toDF("text")
    val both = probe.select(
      graft.catalyst.Md5Prefix60(col("text")).as("native"),
      expr("conv(substr(md5(text), 1, 15), 16, 10)").cast("long").as("sql"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // 60-bit keys stay inside signed int64
    both.foreach(r => assert(r.getLong(0) >= 0L))
    // same spans either width when no 40-bit collision exists
    val docs = Seq(
      1L -> "a b c d e f g h i j k l",
      2L -> "z z a b c d e f g h q r",
      3L -> "totally unrelated words here with no shared grams at all"
    ).toDF("doc_id", "text")
    def spans(wide: Boolean) =
      Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8, minDocs = 2,
        wideHash = wide).collect().map(_.toSeq).toSet
    assert(spans(wide = true) == spans(wide = false))
    assert(spans(wide = true).nonEmpty)
  }

  test("gopherRules: each rule fires in isolation on hand-computed docs") {
    // every doc hand-verified at minWords=3: word/char counts in comments
    val docs = Seq(
      // 6 words, mean 20/6=3.33, stop 2 (the, and) → clean
      1L -> "the cat and dog runs fast",
      // 2 words < 3 → bit 1 (mean exactly 3.0, stop 2)
      2L -> "the and",
      // mean 8/3 = 2.67 < 3 → bit 2
      3L -> "the and aa",
      // mean 69/5 = 13.8 > 10 → bit 2 (high side)
      4L -> ("the and incomprehensibilities incomprehensibilities " +
        "incomprehensibilities"),
      // 2 '#' in 14 tokens = 142857 micros > 100000 → bit 4
      // (mean 48/14 = 3.43, alpha 12/14 = 857142, stop 2)
      5L -> "thee cats and the dogs runs fast lots more cats here good # #",
      // both lines bulleted → bit 8 (13 tokens after the newline merge,
      // mean 42/13 = 3.23, alpha 12/13, stop 4)
      6L -> "- the cat and dog runs fast\n- the dog and cat sit here",
      // 1 of 2 lines ends '...' = 500000 > 300000 → bit 16
      // (symbols 1/11 = 90909 ≤ 100000 stays clear of bit 4)
      7L -> "the cat and dog runs fast...\nthe dog and cat sit here",
      // alpha 4/7 = 571428 < 800000 → bit 32 (mean 23/7 = 3.28)
      8L -> "the cats and dogs 111 222 333",
      // zero EnStop hits → bit 64
      9L -> "cat dog runs fast here"
    ).toDF("doc_id", "text")
    val got = TA.gopherRules(docs, "doc_id", "text",
        minWords = 3, maxWords = 1000)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    assert(got(1L) == (0, true))
    assert(got(2L) == (1, false))
    assert(got(3L) == (2, false))
    assert(got(4L) == (2, false))
    assert(got(5L) == (4, false))
    assert(got(6L) == (8, false))
    assert(got(7L) == (16, false))
    assert(got(8L) == (32, false))
    assert(got(9L) == (64, false))
  }

  test("minhashAccuracy: exact twins estimate 1.0 with zero error; " +
       "estimator granularity is 1/k") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      1L -> base, 2L -> base,                       // identical pair
      3L -> (base + " lambda mu nu xi"),            // superset of base
      4L -> "totally different words entirely here" // no shared bucket
    ).toDF("doc_id", "text")
    val rows = Dedup.minhashAccuracy(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (est12, exact12, err12) = rows((1L, 2L))
    assert(est12 == 1000000L && exact12 == 1000000L && err12 == 0L)
    // the 1↔3 pair: exact Jaccard = 10/14 hand-computed; the estimate is
    // a multiple of 1e6/16 and err is their absolute difference
    rows.get((1L, 3L)).foreach { case (est, exact, err) =>
      assert(exact == 714285L)
      assert(est % 62500L == 0L)
      assert(err == math.abs(est - exact))
    }
    // ids are ordered and the disjoint doc never pairs with anyone
    assert(rows.keys.forall { case (a, b) => a < b })
    assert(!rows.keys.exists { case (a, b) => a == 4L || b == 4L })
    // pairSampleMod keeps exactly the deterministic md5 hash-subset
    def h40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
        ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
    }
    val sampled = Dedup.minhashAccuracy(docs, "doc_id", "text",
        pairSampleMod = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampled ==
      rows.keys.filter { case (a, b) => h40(s"${a}_$b") % 3 == 0 }.toSet)
  }

  test("winnow matches a plain-Scala winnowing replay and upholds the " +
       "shared-run guarantee") {
    val d1 = "a b c d e f g h i j"
    val d2 = "a b c d e f q r s t" // shares an 6-token run ≥ w+n−1 = 7? no:
    // shares "a b c d e f" = 6 tokens < 7 — extend to 7 so the guarantee
    // applies: use d3 sharing "a b c d e f g" (7 tokens) with d1
    val d3 = "a b c d e f g x y z"
    val docs = Seq(1L -> d1, 2L -> d2, 3L -> d3).toDF("doc_id", "text")
    val got = Dedup.winnow(docs, "doc_id", "text", n = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    // plain-Scala replay of the rightmost-minimum rule
    def md5p40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
        ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
    }
    def replay(text: String, n: Int, w: Int): Set[(Int, Long)] = {
      val t = text.split(" ")
      val h = (0 to t.length - n).map(i =>
        md5p40(t.slice(i, i + n).mkString(" ")))
      (0 to h.length - w).map { s =>
        var bp = s; var bh = h(s)
        for (j <- s + 1 until s + w) if (h(j) <= bh) { bh = h(j); bp = j }
        (bp + 1, bh) // 1-based
      }.toSet
    }
    assert(got(1L) == replay(d1, 4, 4))
    assert(got(2L) == replay(d2, 4, 4))
    assert(got(3L) == replay(d3, 4, 4))
    // guarantee: docs 1 and 3 share a 7-token run (w+n−1) → at least one
    // common fingerprint hash at the same relative position
    assert(got(1L).intersect(got(3L)).nonEmpty)
  }

  test("winnow kernel (monotone deque) is row-identical to the HOF fold " +
       "on the corpus and on tie-heavy fixtures") {
    val corpus = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val tieDocs = Seq(
      900L -> "x x x x x x x x x x",          // all grams hash equal
      901L -> "a b a b a b a b a b a b",      // period-2 ties
      902L -> "q r s t"                        // exactly one window (G=w? G=1<4 → empty)
    ).toDF("doc_id", "text")
    val docs = corpus.unionAll(tieDocs)
    def run(kernel: Boolean) =
      Dedup.winnow(docs, "doc_id", "text", n = 4, w = 4, useKernel = kernel)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(kernel = true) == run(kernel = false))
  }

  test("winnowWide kernel is set-identical to the composed HOF fold on " +
       "the corpus and tie-heavy fixtures") {
    val corpus = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val tieDocs = Seq(
      900L -> "x x x x x x x x x x",
      901L -> "a b a b a b a b a b a b",
      902L -> "q r s t"
    ).toDF("doc_id", "text")
    val docs = corpus.unionAll(tieDocs)
    def run(kernel: Boolean) =
      Dedup.winnowWide(docs, "doc_id", "text", n = 4, w = 4,
          useKernel = kernel)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(kernel = true) == run(kernel = false))
  }

  test("winnowWide matches a plain-Scala 60-bit replay (window-min value " +
       "set, per-doc distinct)") {
    val d1 = "a b c d e f g h i j"
    val d3 = "a b c d e f g x y z"
    val docs = Seq(1L -> d1, 3L -> d3).toDF("doc_id", "text")
    def md5p60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val top8 =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      top8 >>> 4
    }
    def replay(text: String, n: Int, w: Int): Set[Long] = {
      val t = text.split(" ")
      val h = (0 to t.length - n).map(i =>
        md5p60(t.slice(i, i + n).mkString(" ")))
      (0 to h.length - w).map(s => h.slice(s, s + w).min).toSet
    }
    val got = Dedup.winnowWide(docs, "doc_id", "text", n = 4, w = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(got(1L) == replay(d1, 4, 4))
    assert(got(3L) == replay(d3, 4, 4))
    // the shared-run guarantee holds at the wide key too: 7 shared
    // tokens = w+n−1 → at least one shared selected hash
    assert(got(1L).intersect(got(3L)).nonEmpty)
  }

  test("wide ≡ narrow winnow clusters on a collision-free corpus") {
    // constructed families: docs within a family share long verbatim
    // runs (≥ w+n−1), families use DISJOINT vocabularies — with no
    // accidental gram sharing and no hash collisions, both widths must
    // produce the SAME components even though they select different
    // grams per window
    val rnd = new scala.util.Random(7)
    def fam(famId: Int, nDocs: Int): Seq[(Long, String)] = {
      val vocab = (0 until 40).map(j => s"f${famId}w$j")
      val core = Seq.tabulate(12)(j => vocab(j % vocab.size))
      (0 until nDocs).map { d =>
        val pre = Seq.fill(2 + rnd.nextInt(3))(vocab(20 + rnd.nextInt(19)))
        val post = Seq.fill(2 + rnd.nextInt(3))(vocab(20 + rnd.nextInt(19)))
        (famId * 100L + d, (pre ++ core ++ post).mkString(" "))
      }
    }
    val docs = ((0 until 4).flatMap(f => fam(f, 3)) ++
      Seq(9001L -> "lone doc with nothing shared at all here today ok",
          9002L -> "another single document entirely alone in the corpus"))
      .toDF("doc_id", "text")
    def clusters(wide: Boolean) =
      Dedup.winnowClustersTransitive(docs, "doc_id", "text",
          n = 4, w = 4, maxIters = 30, wideHash = wide)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val narrow = clusters(wide = false)
    val wide = clusters(wide = true)
    assert(narrow == wide)
    // and the clustering is the intended one: one cluster per family,
    // singletons their own
    (0 until 4).foreach { f =>
      assert((0 until 3).map(d => narrow(f * 100L + d)).toSet.size == 1)
    }
    assert(narrow(9001L) == 9001L && narrow(9002L) == 9002L)
  }

  test("MinHashSig61 matches a BigInt replay and the Mersenne modmul " +
       "is exact") {
    import graft.catalyst.MinHashSig61
    val P = BigInt(MinHashSig61.P61)
    // direct 128-bit modmul fuzz against BigInt
    val rnd = new scala.util.Random(3)
    (0 until 2000).foreach { _ =>
      val a = rnd.nextLong() & ((1L << 60) - 1)
      val b = rnd.nextLong() & ((1L << 61) - 1)
      assert(MinHashSig61.mulMod(a, b) == ((BigInt(a) * BigInt(b)) mod P).toLong,
        s"mulMod($a, $b)")
    }
    // end-to-end signature vs replay
    def md5p60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val top8 =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      top8 >>> 4
    }
    val texts = Seq("the quick brown fox jumps", "a b a b a",
      "unique tokens only right here now")
    val got = texts.toDF("text")
      .select(Dedup.minhashSignatureWide(col("text"), 16).as("s"))
      .collect().map(_.getSeq[Long](0))
    texts.zip(got).foreach { case (t, sig) =>
      val toks = t.split(" ").toSeq
      (0 until 16).foreach { i =>
        val exp = toks.map { tok =>
          ((BigInt(md5p60(tok)) * MinHashSig61.aCoef(i) +
            MinHashSig61.bCoef(i)) mod P).toLong
        }.min
        assert(sig(i) == exp, s"component $i of '$t'")
      }
    }
  }

  test("seed-contract validation: violating seeds fail directed with the " +
       "right (id, label); absent-id seeds are harmless no-ops") {
    // two disconnected components: {1,2} via bucket a, {3} via bucket b
    val rows = Seq((1L, 0, "a"), (2L, 0, "a"), (3L, 0, "b"))
      .toDF("id", "band", "key")
    // seed 3 → label 1: label 1 IS a node of a DIFFERENT component and
    // shares no bucket with 3 — the silent-wrong-labels case
    val bad = Seq((3L, 1L)).toDF("id", "label")
    val e = intercept[IllegalArgumentException] {
      Dedup.transitiveClustersOver(rows, maxIters = 5, seeds = Some(bad))
    }
    assert(e.getMessage.contains("id=3") && e.getMessage.contains("label=1"),
      e.getMessage)
    // a seed whose id is NOT a rows node is a no-op (labels⁰ never sees
    // it) and must be accepted even when its label names a node
    val noop = Seq((99L, 1L)).toDF("id", "label")
    val (out, _) = Dedup.transitiveClustersOver(rows, maxIters = 5,
      seeds = Some(noop))
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("winnowing guarantee holds across 20 seeded random shared-run " +
       "pairs at varying offsets") {
    val rnd = new scala.util.Random(42)
    def word() = "w" + rnd.nextInt(5000)
    val cases = (0 until 20).map { i =>
      val run = Seq.fill(7)(word()) // exactly w + n − 1 shared tokens
      def host(id: Long) = {
        val pre = Seq.fill(1 + rnd.nextInt(8))(word())
        val post = Seq.fill(1 + rnd.nextInt(8))(word())
        (id, (pre ++ run ++ post).mkString(" "))
      }
      (host(1000L + 2 * i), host(1001L + 2 * i))
    }
    val docs = cases.flatMap { case (a, b) => Seq(a, b) }
      .toDF("doc_id", "text")
    val fps = Dedup.winnow(docs, "doc_id", "text", n = 4, w = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    cases.foreach { case ((ida, _), (idb, _)) =>
      assert(fps(ida).intersect(fps(idb)).nonEmpty,
        s"pair ($ida, $idb) shares a 7-token run but no fingerprint")
    }
  }

  test("winnowMatchesAgainstIndex finds the excerpt, ignores strangers, " +
       "and respects minShared") {
    val corpus = Seq(
      10L -> ("the quick brown fox jumps over the lazy dog near the " +
        "river bank today"),
      11L -> "completely different corpus content with other words entirely"
    ).toDF("doc_id", "text")
    val batch = Seq(
      // verbatim excerpt of doc 10 (≥ w+n−1 shared run) + new suffix
      20L -> ("the quick brown fox jumps over the lazy dog plus some " +
        "brand new trailing content"),
      21L -> "nothing in common with anything stored in the index at all"
    ).toDF("doc_id", "text")
    // wide index + the (wide) default batch path — the shipped pairing
    val idx = Dedup.winnowIndexWide(corpus, "doc_id", "text")
    val got = Dedup.winnowMatchesAgainstIndex(idx, batch, "doc_id", "text",
        minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((20L, 10L)), got.toString)
    assert(!got.keys.exists { case (b, c) => c == 11L || b == 21L })
    // a minShared above the overlap suppresses the match
    val strict = Dedup.winnowMatchesAgainstIndex(idx, batch, "doc_id",
        "text", minShared = got((20L, 10L)) + 1)
      .collect()
    assert(strict.isEmpty)
    // the narrow legacy pairing still works when BOTH sides are narrow…
    val idxN = Dedup.winnowIndex(corpus, "doc_id", "text")
    assert(Dedup.winnowMatchesAgainstIndex(idxN, batch, "doc_id", "text",
      minShared = 1L, wideHash = false).collect().nonEmpty)
    // …and a width MISMATCH matches nothing (the documented failure
    // mode the wide default + pinned gates guard against)
    assert(Dedup.winnowMatchesAgainstIndex(idxN, batch, "doc_id", "text",
      minShared = 1L).collect().isEmpty)
  }

  test("lshLoadProfile totals the exact within-bucket pair work") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(1L -> base, 2L -> base, 3L -> base,
      4L -> "completely different tokens only here now").toDF("doc_id", "text")
    val prof = Dedup.lshLoadProfile(docs, "doc_id", "text")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 3 identical docs share every band bucket: each of the 4 bands has
    // one bucket of size 3 (pair work 3) and one of size 1 (doc 4)
    assert(prof.toSet == (0 until 4).flatMap(b =>
      Seq((b, 3L, 1L, 3L), (b, 1L, 1L, 0L))).toSet)
    // Σ pair_work = the pairs a within-bucket enumeration would emit
    assert(prof.map(_._4).sum == 12L)
  }

  test("groupCentroids + centroidAffinity: hand-computed integer " +
       "centroids, dot products, and norms (negatives floor correctly)") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.0f, 1.0f)),
      (3L, 1, Array(1.0f, 1.0f)),
      (4L, 2, Array(-0.5f, 0.25f))
    ).toDF("vec_id", "label", "embedding")
    val cent = Similarity.groupCentroids(emb, "label", "embedding")
    val cm = cent.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(cm((0, 0)) == 500000L && cm((0, 1)) == 500000L)
    assert(cm((1, 0)) == 1000000L && cm((1, 1)) == 1000000L)
    assert(cm((2, 0)) == -500000L && cm((2, 1)) == 250000L)
    val aff = Similarity.centroidAffinity(cent).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // c0 = (5e5, 5e5), c1 = (1e6, 1e6), c2 = (-5e5, 2.5e5)
    assert(aff((0, 1)) == (1000000000000L, 500000000000L, 2000000000000L))
    assert(aff((0, 2)) == (-125000000000L, 500000000000L, 312500000000L))
    assert(aff((1, 2)) == (-250000000000L, 2000000000000L, 312500000000L))
  }

  // ---- unigram-LM tokenizer (UnigramSegment Viterbi + Vocab EM chain) ----

  private def segOne(w: String, pieces: Seq[(String, Long)]): String =
    Seq(w).toDF("w")
      .select(graft.catalyst.UnigramSegment(col("w"), pieces).as("r"))
      .collect().head.getString(0)

  test("UnigramSegment: argmax by score, then FEWER pieces, then the " +
       "lexicographically smallest segmentation") {
    // score tie between ab|c and a|bc (both -6), np tie (2 = 2) →
    // lexicographic on the SEGMENTATION STRING, byte-wise like the
    // oracle's binary collation: 'b' (0x62) < '|' (0x7C), so
    // "ab|c" < "a|bc" — the separator sorts AFTER every letter
    val tie = Seq(("a", -5L), ("ab", -1L), ("bc", -1L), ("c", -5L),
      ("b", -9L), ("abc", -20L))
    assert(segOne("abc", tie) == "ab|c")
    // higher total score beats fewer pieces: whole-word 'abc' at -20
    // loses to the -6 two-piece splits even though np=1
    // fewer pieces wins a pure score tie: make abc = -6 too
    val np = tie.map { case ("abc", _) => ("abc", -6L); case x => x }
    assert(segOne("abc", np) == "abc")
    // uncoverable (no 'z') and empty input → empty string
    assert(segOne("az", tie) == "")
    assert(segOne("", tie) == "")
  }

  test("UnigramSegment: negative-score DP still prefers reachable best " +
       "path through a low-scoring bridge piece") {
    // 'xy' only coverable as x|y despite terrible scores
    val p = Seq(("x", -30L), ("y", -30L), ("xq", -1L))
    assert(segOne("xy", p) == "x|y")
  }

  test("unigramScoredPieces: exact-bits scores at power-of-two " +
       "boundaries, B = bits of the total") {
    val pt = Seq(("a", 8L), ("b", 7L), ("c", 1L)).toDF("p", "f")
    // Σf = 16 → B = 4; bits: 8→3, 7→2, 1→0
    val (scored, b) = graft.functions.Vocab.unigramScoredPieces(pt)
    assert(b == 4L)
    assert(scored.toMap == Map("a" -> -1L, "b" -> -2L, "c" -> -4L))
  }

  test("unigramEmSegmented: round-2 coverage survives the dead-piece " +
       "drop, and per-word bits re-score from USAGE, not substring " +
       "frequency") {
    // corpus: 'abab' ×4, 'ab' ×2 — pieces seeded from substrings; the
    // round-1 segs only use a subset; round-2 vocab = that subset
    val docs = Seq.fill(4)("abab ab").toDF("text")
    val out = graft.functions.Vocab
      .unigramEmSegmented(docs, "text", maxPieceLen = 4, topK = 4)
      .collect().map(r => r.getString(0) ->
        (r.getString(2), r.getString(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Set("abab", "ab"))
    val (s0a, s2a, npa, _) = out("abab")
    assert(s0a == s2a && npa >= 1) // hard-EM fixed point on this corpus
    // every word still segmentable (raise_error would have fired)
    assert(out("ab")._3 >= 1)
  }

  // ---- PII scrubbing (Curation.PiiRules hand-pins: a wrong shared
  //      constant must fail HERE even if both oracle spellings drift
  //      with it) ----

  test("piiScrub redacts email, phone, and IPv4 in rule order; counts " +
       "and extracted values are exact") {
    import graft.functions.Curation._
    val t = "mail a.b+c@x-y.org or 555-123-4567 from 10.0.0.1 ok"
    val r = Seq(t).toDF("text").select(
      piiScrub(col("text")).as("s"),
      piiCount(col("text"), "email").as("ne"),
      piiCount(col("text"), "phone").as("np"),
      piiCount(col("text"), "ip").as("ni"),
      piiMatches(col("text"), "email").as("em")).collect().head
    assert(r.getString(0) == "mail <EMAIL> or <PHONE> from <IP> ok")
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L)
    assert(r.getString(4) == "a.b+c@x-y.org")
  }

  test("piiScrub rule order: the email rule consumes dotted runs " +
       "before the IPv4 rule can nibble at them; no matches → '' join") {
    import graft.functions.Curation._
    // the local part + domain contain digit.dot runs that LOOK IPv4-ish
    val t = "u1.2.3.4@9.8.7.co end"
    val r = Seq(t).toDF("text").select(
      piiScrub(col("text")).as("s"),
      piiCount(col("text"), "ip").as("ni"),
      piiMatches(col("text"), "phone").as("pm")).collect().head
    assert(r.getString(0) == "<EMAIL> end")
    assert(r.getString(2) == "")
    // the \b guard keeps the ip rule from firing inside the address:
    // 'u1.2.3.4' has no word boundary between 'u' and '1', and the
    // remaining dotted runs never reach 4 octets
    assert(r.getLong(1) == 0L)
  }

  test("piiMatches sorts and joins multiple hits deterministically") {
    import graft.functions.Curation._
    val t = "z@b.cc then a@b.cc"
    val r = Seq(t).toDF("text")
      .select(piiMatches(col("text"), "email")).collect().head.getString(0)
    assert(r == "a@b.cc|z@b.cc")
  }

  // ---- Aho–Corasick blocklist screen (MultiMatch) ----

  private def mm(text: String, terms: Seq[String]): Seq[Long] =
    Seq(text).toDF("t")
      .select(graft.catalyst.MultiMatch(col("t"), terms).as("r"))
      .collect().head.getString(0).split("\\|").map(_.toLong).toSeq

  test("MultiMatch counts ALL occurrences: same-pattern overlap, " +
       "cross-pattern suffix hits via fail links, nested terms") {
    // "aaa" holds 'aa' at 0 and 1 (overlapping), 'a' at 0,1,2
    assert(mm("aaa", Seq("a", "aa")) == Seq(3L, 2L))
    // a position ending several patterns: 'she' ends 'she' AND 'he'
    assert(mm("ushers", Seq("he", "she", "hers")) == Seq(1L, 1L, 1L))
    // fail-link walk mid-pattern: matching 'window' must not lose the
    // 'dow' hit that starts inside the 'win' prefix
    assert(mm("window", Seq("win", "dow", "ndo")) == Seq(1L, 1L, 1L))
    // no hits → all-zero vector, not empty output
    assert(mm("xyz", Seq("win", "dow")) == Seq(0L, 0L))
  }

  test("MultiMatch matches the brute positional definition on the " +
       "corpus term list over a corpus-like line") {
    import graft.functions.Curation
    val line = "the fast table window stream merge key slow a window"
    val got = mm(line, Curation.BlockTerms)
    val brute = Curation.BlockTerms.map { t =>
      (0 to line.length - t.length)
        .count(i => line.regionMatches(i, t, 0, t.length)).toLong
    }
    assert(got == brute)
  }

  // ---- Count-Min sketch (Sketch) ----

  test("cmsEstimates: est = min over depth rows of md5-keyed cells; " +
       "never undercounts; exact when no collision") {
    import graft.functions.Sketch
    val docs = Seq("aa aa bb", "bb cc").toDF("text")
    val sk = Sketch.cmsBuild(docs, "text").localCheckpoint()
    val est = Sketch.cmsEstimates(sk, docs, "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(est.keySet == Set("aa", "bb", "cc"))
    assert(est("aa")._1 == 2L && est("bb")._1 == 2L && est("cc")._1 == 1L)
    // CMS guarantee: est >= exact always
    assert(est.values.forall { case (exact, e, over) =>
      e >= exact && over == e - exact })
    // 3 tokens in 4096 cells: a same-row collision (same 3-nibble md5
    // prefix) is astronomically unlikely — estimates are exact here
    assert(est.values.forall { case (exact, e, _) => e == exact })
  }

  test("cmsBuild: sketch merge is cell-wise addition (the map-side " +
       "partial-agg claim), and the cell space is hard-bounded") {
    import graft.functions.Sketch
    val a = Seq("x y", "x").toDF("text")
    val b = Seq("y z").toDF("text")
    val both = a.unionAll(b)
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketch.cmsBuild(df, "text").collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val ca = cells(a); val cb = cells(b); val cu = cells(both)
    val merged = (ca.keySet ++ cb.keySet).map(k =>
      k -> (ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L))).toMap
    assert(cu == merged)
    assert(cu.size <= Sketch.CmsDepth * (1 << (4 * Sketch.CmsNibbles)))
  }

  test("cmsBuildWindowed/cmsLive: window EVICTION pin — dropping the " +
       "expired window's table removes exactly its mass (q297)") {
    import graft.functions.Sketch
    // window 0 (expiring): x x y | window 1: x z | window 2: y
    val docs = Seq((0L, "x x y"), (1L, "x z"), (2L, "y"))
      .toDF("win", "text")
    val wd = Sketch.cmsBuildWindowed(docs, "win", "text").localCheckpoint()
    // per-window tables are independently bounded and window-keyed
    assert(wd.select("win").distinct().collect().map(_.getLong(0)).toSet
      == Set(0L, 1L, 2L))
    def est(liveWins: Seq[Long], live: org.apache.spark.sql.DataFrame) =
      Sketch.cmsEstimates(Sketch.cmsLive(wd, liveWins), live, "text")
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val liveDocs = docs.filter(col("win") =!= 0L)
    // live = {1,2}: x→1, z→1, y→1 (window 0's x x y mass is GONE —
    // eviction by dropping, no subtraction anywhere)
    assert(est(Seq(1L, 2L), liveDocs) == Map("x" -> 1L, "y" -> 1L, "z" -> 1L))
    // keeping all three windows over-counts x and y by window 0's mass
    // — proving the evicted rows really carried it
    assert(est(Seq(0L, 1L, 2L), liveDocs)
      == Map("x" -> 3L, "y" -> 2L, "z" -> 1L))
  }

  test("cmsDecayedEstimates: hand-computed right-shift decay — age-a " +
       "windows weigh n >> a in both the estimate and the exact (q301)") {
    import graft.functions.Sketch
    // window 0 (age 2): x x x x x | window 1 (age 1): x x x y | win 2: y
    val docs = Seq((0L, "x x x x x"), (1L, "x x x y"), (2L, "y"))
      .toDF("win", "text")
    val wd = Sketch.cmsBuildWindowed(docs, "win", "text").localCheckpoint()
    val r = Sketch.cmsDecayedEstimates(wd, docs, "win", "text", curWin = 2L)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // x: 5>>2 + 3>>1 + 0 = 1 + 1 = 2;  y: 1>>1 + 1 = 1 (shift floors)
    // 2 tokens in 4096 cells: no collision — est == exact here
    assert(r == Map("x" -> ((2L, 2L, 0L)), "y" -> ((1L, 1L, 0L))),
      r.toString)
  }

  test("cmsDecayedEstimates: shift-domain guard — an age-64 window " +
       "drops to zero weight (never wraps to full), a FUTURE window " +
       "refuses directed (r14 advice: Java shiftright masks mod 64)") {
    import graft.functions.Sketch
    // window 0 aged exactly 64: Java's 5 >> 64 == 5 (mask) — the guard
    // must FILTER it, so only window 64's own count survives
    val docs = Seq((0L, "x x x x x"), (64L, "x")).toDF("win", "text")
    val wd = Sketch.cmsBuildWindowed(docs, "win", "text").localCheckpoint()
    val r = Sketch.cmsDecayedEstimates(wd, docs, "win", "text",
        curWin = 64L).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map("x" -> ((1L, 1L))), r.toString)
    // a window AHEAD of the epoch is corrupt input: directed refusal
    val bad = Seq((3L, "y")).toDF("win", "text")
    val wdBad = Sketch.cmsBuildWindowed(bad, "win", "text")
      .localCheckpoint()
    val ex = intercept[Exception] {
      Sketch.cmsDecayedEstimates(wdBad, bad, "win", "text", curWin = 2L)
        .collect()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("ahead of the current epoch"), ex.getMessage)
  }

  // ---- exact-bits multinomial Naive Bayes (Classify) ----

  test("scoreNaiveBayes: hand-computed bits posterior, tie → class ASC, " +
       "unseen word hits the add-one zero arm") {
    // train: class a = {x x y} over 2 docs, class b = {x} over 1 doc
    // V = 2; tok(a)=3, tok(b)=1; N=3
    // denom(a) = bits(3+2) = 2, denom(b) = bits(1+2) = 1
    // prior(a) = bits(2) - bits(3) = 0, prior(b) = bits(1) - bits(3) = -1
    val train = Seq(("a", "x x"), ("a", "y"), ("b", "x")).toDF("lang", "text")
    val model = graft.functions.Classify.nbTrainCounts(train, "lang", "text")
      .localCheckpoint()
    // batch doc: "x z" (z unseen → bits(0+1)=0 in every class)
    // a: 0 + (bits(2+1)-2) + (0-2) = 0 + (1-2) + (-2) = -3
    // b: -1 + (bits(1+1)-1) + (0-1) = -1 + 0 - 1 = -2  → pred b, margin 1
    val batch = Seq((7L, "x z")).toDF("doc_id", "text")
    val r = graft.functions.Classify.scoreNaiveBayes(model, batch)
      .collect().head
    assert(r.getLong(0) == 7L && r.getString(1) == "b")
    assert(r.getLong(2) == -2L && r.getLong(3) == 1L)
  }

  test("scoreNaiveBayes: exact score tie breaks to the smaller class " +
       "name; margin 0") {
    // two classes with identical counts → identical scores everywhere
    val train = Seq(("a", "x"), ("b", "x")).toDF("lang", "text")
    val model = graft.functions.Classify.nbTrainCounts(train, "lang", "text")
      .localCheckpoint()
    val r = graft.functions.Classify.scoreNaiveBayes(
      model, Seq((1L, "x x")).toDF("doc_id", "text")).collect().head
    assert(r.getString(1) == "a" && r.getLong(3) == 0L)
  }

  test("scoreNaiveBayesKernel is row-identical to the join form " +
       "(same bits, same tie order, token-less docs dropped by both)") {
    val train = Seq(("a", "x x"), ("a", "y"), ("b", "x")).toDF("lang", "text")
    val model = graft.functions.Classify.nbTrainCounts(train, "lang", "text")
      .localCheckpoint()
    val batch = Seq((7L, "x z"), (8L, "y y x"), (9L, " "))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val join = rows(graft.functions.Classify.scoreNaiveBayes(model, batch))
    val kern = rows(graft.functions.Classify.scoreNaiveBayesKernel(model, batch))
    assert(join == kern)
    assert(!kern.exists(_._1 == 9L)) // token-less doc absent from both
  }

  test("scoreUnigramArrivals: frozen model segments NOVEL words into " +
       "learned pieces; per-doc sums are exact") {
    val train = Seq.fill(8)("stream filter").toDF("text")
    val model = graft.functions.Vocab.unigramTrainModel(
      train, "text", maxPieceLen = 4, topK = 8)
    val batch = Seq((1L, "stream streamfilter")).toDF("doc_id", "text")
    val r = graft.functions.Vocab.scoreUnigramArrivals(model, batch)
      .collect().head
    assert(r.getLong(1) == 2L)           // n_tok
    assert(r.getLong(2) >= 3L)           // novel word needs ≥ 2 pieces
  }
}
