package graft

import graft.ops.{Dedup, Similarity, Winnowing}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen expressions (cosine_sim, char_mask, lsh_bucket)
  * must be BIT-IDENTICAL to the column-DSL fold forms they replace —
  * same fold order, same widening, same null/zero-norm behavior.
  * Doubles are compared with ==, not tolerance: any reordering of the
  * accumulation would change oracle hashes.
  */
class VectorExprsSpec extends SparkSpec {

  private def seededVec(seed: Long, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)((r.nextDouble() - 0.5).toFloat)
  }

  test("cosine_sim ≡ fold form bit-for-bit, incl zero-norm and empty") {
    import spark.implicits._
    val rows =
      (0 until 50).map(i => (i.toLong, seededVec(i, 64), seededVec(i + 1000, 64))) ++
        Seq(
          (900L, Array.fill(8)(0.0f), seededVec(1, 8)), // zero norm → null
          (901L, Array.empty[Float], Array.empty[Float]), // empty → null
          (902L, seededVec(2, 4), seededVec(3, 4)))
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        Similarity.cosine(col("a"), col("b")).as("native"),
        Similarity.cosineFold(col("a"), col("b")).as("fold"))
    val got = df.collect()
    assert(got.length == rows.length)
    got.foreach { r =>
      val n = if (r.isNullAt(1)) null else r.getDouble(1)
      val f = if (r.isNullAt(2)) null else r.getDouble(2)
      assert(n == f, s"row ${r.getLong(0)}: native=$n fold=$f")
    }
    // sanity: the non-degenerate rows actually produced values
    assert(got.count(r => !r.isNullAt(1)) == 51)
  }

  test("cosine_sim: length mismatch and null element → null") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))
    ).toDF("id", "a", "b")
      .select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .orderBy("id").collect()
    assert(df(0).isNullAt(1))
    assert(!df(1).isNullAt(1))
    val withNull = spark.sql(
      "SELECT * FROM VALUES (array(CAST(1.0 AS FLOAT), NULL), array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))) t(a, b)")
      .select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("char_mask ≡ fold form, incl empty string quirk") {
    import spark.implicits._
    val texts = Seq("", "a", "Hello, World! 42", "zzz   \t\n mixed CASE 0189",
      "~`!@#$%^&*()_+-=[]{}|;':\",./<>?") ++
      (0 until 30).map(i => new scala.util.Random(i).alphanumeric.take(80).mkString)
    val df = texts.toDF("t").select(
      Dedup.charMask(col("t")).as("native"),
      Dedup.charMaskFold(col("t")).as("fold"))
    df.collect().foreach { r =>
      assert(r.getStruct(0) == r.getStruct(1),
        s"mask mismatch: ${r.getStruct(0)} vs ${r.getStruct(1)}")
    }
  }

  test("maskJaccard over native masks ≡ set Jaccard on ASCII text") {
    import spark.implicits._
    val df = Seq(("abcabc", "abcd"), ("hello", "world"), ("xy", "xy"))
      .toDF("a", "b")
      .select(
        Dedup.maskJaccard(Dedup.charMask(col("a")), Dedup.charMask(col("b"))).as("m"),
        Dedup.setJaccard(Dedup.charSet(col("a")), Dedup.charSet(col("b"))).as("s"))
    df.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("lsh_bucket ≡ fold form across plane counts") {
    import spark.implicits._
    val rows = (0 until 40).map(i => Tuple1(seededVec(i, 32)))
    for (planes <- Seq(1, 8, 12, 63)) {
      val df = rows.toDF("v").select(
        Similarity.lshBucket(col("v"), planes).as("native"),
        Similarity.lshBucketFold(col("v"), planes).as("fold"))
      df.collect().foreach(r =>
        assert(r.getLong(0) == r.getLong(1), s"planes=$planes"))
    }
  }

  test("word_shingles ≡ fold form, incl empty/short/duplicate texts") {
    import spark.implicits._
    val texts = Seq(
      "", "   ", "one", "a b", "a b c", "a b c d",
      "x y x y x y x y",            // duplicate shingles collapse
      "  padded   with   spaces  ",
      // non-space boundary whitespace: SQL trim strips ONLY spaces,
      // so \n/\t survive and the regex split emits boundary empty
      // tokens — the native expression must reproduce that exactly
      "a b c\n", "\ta b c", " \t a b c \n ", "a\tb\nc\rd",
      (0 until 200).map(i => s"w${i % 7}").mkString(" "))
    for (n <- Seq(2, 3, 5)) {
      val df = texts.toDF("t").select(
        Dedup.shingles(col("t"), n).as("native"),
        Dedup.shinglesFold(col("t"), n).as("fold"))
      df.as[(Seq[String], Seq[String])].collect().foreach { case (a, b) =>
        assert(a == b, s"n=$n")
      }
    }
  }

  test("repetition_stats ≡ explode+groupBy reference, incl degenerates") {
    import spark.implicits._
    val texts = Seq(
      "", "   ", "one", "a b", "a b c",
      "x y x y x y x y",                    // heavy bigram repetition
      "a b c d e f g",                      // all distinct
      "  padded   with   spaces  ",
      "a b c\n", "\ta b a b",               // boundary whitespace quirks
      (0 until 200).map(i => s"w${i % 7}").mkString(" "))
    // reference: same tokenization (SQL trim = spaces only, split
    // keeps boundary empties), counts computed in plain Scala
    def ref(t: String): (Option[Double], Option[Double]) = {
      val str = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = if (str.isEmpty) Array.empty[String]
        else java.util.regex.Pattern.compile("\\s+").split(str, -1)
      val bgs = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val tgs = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      (if (bgs.isEmpty) None
       else Some(bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size),
       if (tgs.isEmpty) None
       else Some(1.0 - tgs.distinct.size.toDouble / tgs.size))
    }
    val st = graft.plans.NativeCols.repetitionStats(col("t"))
    val got = texts.toDF("t")
      .select(col("t"),
        st.getField("top_bigram_frac").as("bf"),
        st.getField("dup_trigram_frac").as("tf"))
      .collect()
    got.foreach { r =>
      val (eb, et) = ref(r.getString(0))
      val gb = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val gt = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(gb == eb && gt == et, s"text=${r.getString(0)}")
    }
    // sanity: repetition actually detected where planted
    val heavy = got.find(_.getString(0) == "x y x y x y x y").get
    assert(heavy.getDouble(1) == 4.0 / 7.0) // "x y" 4 of 7 bigrams
    assert(heavy.getDouble(2) > 0.5)        // trigrams mostly repeats
  }

  test("cdc_chunks (md5) ≡ fold form bit-for-bit, incl multi-byte and degenerates") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefgh \n.,"
    val texts = Seq(
      "", "a", "short", "exactly8", "just over window",
      "PREFIX-2026 the quick brown fox jumps over the lazy dog",
      "héllo wörld — çédille über alles",          // 2-byte UTF-8
      "日本語のテキストでも同じ境界が出ること",        // 3-byte UTF-8
      "emoji 😀 and more 😀 text here",  // 4-byte UTF-8
      Array.fill(500)(alpha(rnd.nextInt(alpha.length))).mkString,
      Array.fill(3000)(alpha(rnd.nextInt(alpha.length))).mkString)
    for ((w, d) <- Seq((8, 64), (4, 8), (8, 16))) {
      val df = texts.toDF("t").select(
        TextAnalysis.cdcChunks(col("t"), w, d).as("native"),
        TextAnalysis.cdcChunksFold(col("t"), w, d).as("fold"))
      df.as[(Seq[(Long, String)], Seq[(Long, String)])].collect()
        .zip(texts).foreach { case ((n, f), t) =>
          assert(n == f, s"w=$w d=$d text=${t.take(40)}…: $n vs $f")
        }
    }
  }

  test("cdc_chunks fast path ≡ direct window-hash reference, partitions text") {
    import graft.ops.TextAnalysis
    import graft.plans.VectorOps
    import spark.implicits._
    // reference: per position, recompute the window hash from scratch
    // (Σ cp·B^k mod P) — no rolling recurrence, so a bug in the
    // remove-admit step cannot hide in both sides
    def refEdges(t: String, w: Int, d: Int): Seq[Long] = {
      val cps = t.codePoints().toArray
      val bnds = (w to cps.length).filter { i =>
        val h = (i - w until i).foldLeft(0L) { (acc, j) =>
          (acc * VectorOps.CdcHashB + cps(j)) % VectorOps.CdcHashP
        }
        h % d == 0
      }.map(_.toLong)
      (Seq(0L) ++ bnds ++ Seq(cps.length.toLong)).distinct
    }
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefgh \n.,é日😀"
    val texts = Seq("", "a", "exactly8", "just over window",
      "héllo wörld — çédille über alles") ++
      (0 until 10).map(_ =>
        Array.fill(800)(alpha(rnd.nextInt(alpha.length))).mkString)
    for ((w, d) <- Seq((8, 64), (5, 16))) {
      val got = texts.toDF("t").select(col("t"),
        TextAnalysis.cdcChunksFast(col("t"), w, d).as("cs"))
        .as[(String, Seq[(Long, String)])].collect()
      got.foreach { case (t, cs) =>
        val edges = refEdges(t, w, d)
        val expStarts = edges.dropRight(1)
        assert(cs.map(_._1) == expStarts, s"w=$w d=$d text=${t.take(40)}…")
        assert(cs.map(_._2).mkString == t, "chunks must partition the text")
      }
    }
    // shift-robustness survives in the production hash: every chunk of
    // the original after its first boundary reappears in the prefixed copy
    val base = Array.fill(2000)(alpha(rnd.nextInt(alpha.length))).mkString
    val both = Seq(base, "PREFIX-2026 " + base).toDF("t")
      .select(TextAnalysis.cdcChunksFast(col("t")).as("cs"))
      .as[Seq[(Long, String)]].collect()
    val origTail = both(0).map(_._2).drop(1)
    val shifted = both(1).map(_._2).toSet
    assert(origTail.nonEmpty && origTail.forall(shifted.contains),
      "post-boundary chunks must survive a prefix shift")
  }

  test("hashed_gram_buckets ≡ fold TF forms, incl whitespace quirks and empty docs") {
    import graft.ops.{Sampling, TextAnalysis}
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val texts = Seq(
      "", "   ", "one", "a b", "a b c",
      "\ta b c\n",                 // boundary non-space whitespace →
      " \t mixed   runs \n ",      // empty tokens must hash identically
      "dup dup dup dup",
      (0 until 300).map(i => s"w${i % 13}").mkString(" "),
      (0 until 500).map(_ => rnd.alphanumeric.take(5).mkString).mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = texts.toDF("doc_id", "text")
    for (dim <- Seq(16, 64)) {
      def rel(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Int, Long)].collect().toSeq.sorted
      assert(rel(TextAnalysis.hashedTf(docs, "doc_id", "text", dim)) ==
        rel(TextAnalysis.hashedTfFold(docs, "doc_id", "text", dim)), s"uni dim=$dim")
      assert(rel(Sampling.hashedNgramTf(docs, "doc_id", "text", dim)) ==
        rel(Sampling.hashedNgramTfFold(docs, "doc_id", "text", dim)), s"bi dim=$dim")
    }
  }

  test("positioned_grams ≡ transform-sequence fold, one gram per position") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val texts = Seq("", "   ", "one two", "a b c d e f",
      "\tx y z w v\n", " padded   runs  here again ok ",
      (0 until 400).map(i => s"t${i % 9}").mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      (10L to 15L).map(i =>
        (i, (0 until 50).map(_ => rnd.alphanumeric.take(4).mkString).mkString(" ")))
    val docs = texts.toDF("id", "text")
    for (n <- Seq(3, 5)) {
      val native = docs.select(col("id"),
        posexplode(graft.plans.NativeCols.positionedGrams(col("text"), n))
          .as(Seq("pos", "gram")))
        .as[(Long, Int, String)].collect().toSeq.sorted
      val fold = docs
        .select(col("id"), TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col("id"), posexplode(transform(
          sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))
          .as(Seq("pos", "gram")))
        .as[(Long, Int, String)].collect().toSeq.sorted
      assert(native == fold, s"n=$n")
    }
  }

  test("dot_long / quantize_long ≡ fold forms, incl null padding semantics") {
    import graft.ops.KMeans
    import spark.implicits._
    val rows = (0 until 40).map(i => (i.toLong, seededVec(i, 32), seededVec(i + 7, 32)))
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        KMeans.quantize(col("a")).as("qa"),
        KMeans.quantizeFold(col("a")).as("fa"),
        graft.plans.NativeCols.dotLong(
          KMeans.quantize(col("a")), KMeans.quantize(col("b"))).as("nd"),
        KMeans.dotLFold(
          KMeans.quantizeFold(col("a")), KMeans.quantizeFold(col("b"))).as("fd"))
    df.as[(Long, Seq[Long], Seq[Long], Long, Long)].collect().foreach {
      case (id, qa, fa, nd, fd) =>
        assert(qa == fa && nd == fd, s"id=$id")
    }
    // length mismatch → null (zip_with's null padding through the fold)
    val mm = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(graft.plans.NativeCols.dotLong(col("a"), col("b")).as("d"))
      .collect().head
    assert(mm.isNullAt(0))
  }

  test("char_bits ≡ split+transform fold, incl empty-string quirk") {
    import spark.implicits._
    val texts = Seq("", "a", "Hello, World! 42",
      "zzz \t\n mixed CASE 0189", "~`!@#$%^&*()_+-=[]{}|;':\",./<>?",
      "héllo日本😀") ++
      (0 until 20).map(i => new scala.util.Random(i).alphanumeric.take(60).mkString)
    texts.toDF("t").select(
      graft.plans.NativeCols.charBits(col("t")).as("n"),
      Dedup.charBitsFold(col("t")).as("f"))
      .as[(Seq[Int], Seq[Int])].collect().foreach { case (n, f) =>
        assert(n == f, s"$n vs $f")
      }
  }

  test("md5_lsh_keys ≡ fold tableKeys bucket-for-bucket") {
    import spark.implicits._
    val dim = 16
    val rows = (0 until 60).map(i => (i.toLong, seededVec(i, dim))) :+
      (999L, Array.fill(dim)(0.0f)) // all-zero vector: every dot = 0 → bucket 0
    val df = rows.toDF("id", "v")
    for ((planes, tables) <- Seq((8, 8), (4, 3))) {
      val got = df.select(col("id"),
        graft.plans.NativeCols.md5LshKeys(col("v"), dim, planes, tables).as("n"),
        graft.ops.Similarity.lshTableKeysMd5Fold(col("v"), dim, planes, tables).as("f"))
        .as[(Long, Seq[Long], Seq[Long])].collect()
      got.foreach { case (id, n, f) =>
        assert(n == f, s"id=$id planes=$planes tables=$tables: $n vs $f")
      }
      // buckets actually spread (not degenerate)
      assert(got.flatMap(_._2).distinct.length > 3)
    }
    // dim mismatch → all-zero buckets (the fold's null-dot behavior)
    val short = Seq(Tuple1(Array(1.0f, 2.0f))).toDF("v")
      .select(graft.plans.NativeCols.md5LshKeys(col("v"), dim, 8, 8).as("n"))
      .as[Seq[Long]].collect().head
    assert(short == Seq.fill(8)(0L))
  }

  test("nfc_normalize: composes decomposed forms, ASCII identity, null, codegen") {
    import spark.implicits._
    val decomposed = "caf" + "e\u0301" // e + combining acute
    val composed = "caf\u00e9"
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val r = df.select(col("id"),
        graft.plans.NativeCols.nfcNormalize(col("t")).as("n"))
      .as[(Long, Option[String])].collect().toMap
    assert(r(1L) == Some(composed), "NFC must compose e+U+0301 into composed form")
    assert(r(2L) == Some(composed) && r(3L) == Some("plain ascii"))
    assert(r(4L).isEmpty, "null propagates")
    // codegen path: run through a row-heavy filter+agg pipeline
    val n = spark.range(2000)
      .select(concat(lit("x"), when(pmod(col("id"), lit(2)) === 0,
        lit("e\u0301")).otherwise(lit("\u00e9"))).as("t"))
      .filter(graft.plans.NativeCols.nfcNormalize(col("t")) === "x\u00e9")
      .count()
    assert(n == 2000L, s"all rows normalize to the same composed form: $n")
    // property: ≡ java.text.Normalizer on random multilingual strings
    // (combining marks, Hangul jamo, CJK, emoji, compatibility chars)
    val pool = "ae\u0301\u0308o\u0302 \u00df\u65e5\u672c\u1100\u1161\uac00x\u00e9\u212b"
    val rnd = new scala.util.Random(7)
    val texts = (0 until 60).map(_ =>
      (0 until rnd.nextInt(24)).map(_ => pool(rnd.nextInt(pool.length))).mkString)
    val got = texts.toDF("t")
      .select(graft.plans.NativeCols.nfcNormalize(col("t")).as("n"))
      .as[String].collect().toSeq
    texts.zip(got).foreach { case (t, g) =>
      assert(g == java.text.Normalizer.normalize(t,
        java.text.Normalizer.Form.NFC), s"input codepoints: " +
        t.map(c => f"\\u$c%04x").mkString)
    }
  }

  test("winnow_fingerprints ≡ window-explode fold across (k, w) shapes") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val texts = Seq("", "   ", "one two three", "a b c d",
      " padded   runs  here again ok now ",
      "\tx y z w v u t s\n",
      // repeated vocab → hash ties exercise the rightmost-tie rule
      (0 until 300).map(_ => s"v${rnd.nextInt(5)}").mkString(" "),
      (0 until 120).map(i => s"u$i").mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for ((k, w) <- Seq((4, 4), (3, 5), (1, 1), (2, 9))) {
      val native = TextAnalysis
        .winnowingFingerprints(docs, "id", "text", k, w)
        .as[(Long, Int, Long)].collect().toSeq.sorted
      val fold = TextAnalysis
        .winnowingFingerprintsFold(docs, "id", "text", k, w)
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(native == fold, s"(k=$k, w=$w)")
    }
  }

  test("excise_positions ≡ transform+exists fold, incl unsorted/" +
      "overlapping/out-of-range intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val rows = (0 until 40).map { i =>
      val nTok = rnd.nextInt(30)
      val text =
        if (i == 0) "" else if (i == 1) "   "
        else (0 until nTok).map(_ => s"t${rnd.nextInt(7)}")
          .mkString(if (i % 3 == 0) "  " else " ")
      val cuts = (0 until rnd.nextInt(5)).map { _ =>
        val s = rnd.nextInt(35) - 3 // may start before 0 / past the end
        (s, s + rnd.nextInt(8) - 1) // may be empty (e < s)
      }
      (i.toLong, text, cuts)
    }
    val df = rows.toDF("id", "text", "cuts")
      .withColumn("cuts", expr(
        "transform(cuts, c -> named_struct('s', c._1, 'e', c._2))"))
    val out = df.select(col("id"),
        graft.plans.NativeCols.excisePositions(col("text"), col("cuts"))
          .as("nat"),
        graft.ops.Winnowing.exciseFold(col("text"), col("cuts")).as("fold"))
      .select(col("id"), col("nat.clean_text"), col("nat.n_kept"),
        col("fold.clean_text"), col("fold.n_kept"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(3) && r.getInt(2) == r.getInt(4),
        s"id=${r.getLong(0)}: native (${r.getString(1)}, ${r.getInt(2)}) " +
          s"vs fold (${r.getString(3)}, ${r.getInt(4)})")
    }
  }

  test("excise_positions: null cut elements and null-field structs are " +
      "skipped, not NPE'd (total over the accepted containsNull type)") {
    import spark.implicits._
    // reachable via SQL literals / null-producing transforms — never
    // from the in-repo collect_list callers
    val out = Seq((1L, "a b c d e")).toDF("id", "text")
      .withColumn("cuts", expr(
        "array(named_struct('s', 1, 'e', 2), " +
          "CAST(NULL AS STRUCT<s: INT, e: INT>), " +
          "named_struct('s', CAST(NULL AS INT), 'e', 4))"))
      .select(graft.plans.NativeCols.excisePositions(
        col("text"), col("cuts")).as("ex"))
      .select(col("ex.clean_text"), col("ex.n_kept"))
      .collect().head
    assert(out.getString(0) == "a d e" && out.getInt(1) == 3, s"$out")
  }

  test("native expressions survive whole-stage codegen in a real plan") {
    import spark.implicits._
    // force the codegen path (not interpreted fallback eval) by going
    // through a filter+agg pipeline over enough rows
    val df = (0 until 2000).map(i => (i.toLong, seededVec(i, 16)))
      .toDF("id", "v")
    val q = df.as("a").join(df.as("b"), $"a.id" < $"b.id" && $"b.id" < $"a.id" + 3)
      .select(Similarity.cosine($"a.v", $"b.v").as("c"))
      .agg(count(when($"c" > 0, 1)).as("n_pos"), avg($"c").as("mean"))
    val r = q.collect()(0)
    assert(r.getLong(0) > 0 && !r.isNullAt(1))
  }

  test("cosine_sim registered as SQL function via GraftExtensions") {
    // the shared session is built with GraftExtensions installed
    val r = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
                char_mask('ab').lo AS lo""").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(r.getLong(1) == 0L)
    val hi = spark.sql("SELECT char_mask('ab').hi AS hi").collect()(0).getLong(0)
    // 'a'=97 → bit 33 of hi, 'b'=98 → bit 34
    assert(hi == ((1L << 33) | (1L << 34)))
    // the round-10 natives register too — SQL users get the same
    // single-pass kernels the Scala API uses
    val r2 = spark.sql(
      """SELECT simhash_md5('') AS sh,
                size(positioned_grams('a b c d', 2)) AS ng,
                size(hashed_gram_buckets('a b c', 16, true)) AS nb,
                size(cdc_chunks('hello world text', 4, 8, true)) AS nc,
                char_bits('ab') AS cb,
                dot_long(array(1L, 2L), array(3L, 4L)) AS d,
                nfc_normalize(decode(unhex('65CC81'), 'UTF-8')) = decode(unhex('C3A9'), 'UTF-8') AS nfc""").collect()(0)
    assert(r2.getLong(0) == 0L)   // zero-token doc → 0
    assert(r2.getInt(1) == 3)     // 3 positioned bigrams of 4 tokens
    assert(r2.getInt(2) == 5)     // 3 unigrams + 2 bigrams
    assert(r2.getInt(3) >= 1)     // chunks partition the text
    assert(r2.getSeq[Int](4) == Seq(64 + 97 % 64, 64 + 98 % 64))
    assert(r2.getLong(5) == 11L)  // 1·3 + 2·4
    assert(r2.getBoolean(6))      // NFC composes e+U+0301 into é
    // round-13: winnowing selection is SQL-reachable too; 4 tokens
    // at k=4 → exactly one gram → exactly one fingerprint at pos 0
    val r3 = spark.sql(
      "SELECT winnow_fingerprints('a b c d', 4, 4) AS fp").collect()(0)
    val fp = r3.getSeq[org.apache.spark.sql.Row](0)
    assert(fp.length == 1 && fp.head.getInt(0) == 0)
  }
}
