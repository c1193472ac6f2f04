package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAnalysis
import TextAnalysisSpec._

class TextAnalysisSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("graft-text-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def one(col: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("text").select(col.as("v")).collect().head.get(0)

  test("tokenCount") {
    assert(one(TextAnalysis.tokenCount($"text"), "a b  c") === 3)
    assert(one(TextAnalysis.tokenCount($"text"), "   ") === 0)
    assert(one(TextAnalysis.tokenCount($"text"), "") === 0)
    assert(one(TextAnalysis.tokenCount($"text"), " x ") === 1)
  }

  test("subwordCount splits on case/digit/punct boundaries") {
    assert(one(TextAnalysis.subwordCount($"text"), "spark4ever") === 3) // spark|4|ever
    val n = one(TextAnalysis.subwordCount($"text"), "don't stop-me now").asInstanceOf[Int]
    assert(n >= 5) // don|'|t|stop|-|me|now territory
  }

  test("langId picks the right stopword family") {
    assert(one(TextAnalysis.langId($"text"),
      "the cat sat on the mat and it was happy") === "en")
    assert(one(TextAnalysis.langId($"text"),
      "der Hund und die Katze sind nicht im Haus aber auch") === "de")
    assert(one(TextAnalysis.langId($"text"),
      "el perro y la gata son de la casa pero no este") === "es")
    assert(one(TextAnalysis.langId($"text"),
      "zzz qqq xxx www") === "und")
  }

  test("qualityScore orders clean prose above garbage") {
    val good = one(TextAnalysis.qualityScore($"text"),
      "This is a clean paragraph of English prose with enough words and " +
      "sentences to look like something a person actually wrote for other " +
      "people to read and it continues long enough to saturate the length " +
      "component of the score while keeping a high alphabetic ratio overall " +
      "and it adds a few more words to comfortably pass the length threshold " +
      "for the saturation component of the heuristic").asInstanceOf[java.lang.Double]
    val garbage = one(TextAnalysis.qualityScore($"text"),
      "!!!???... 1234 5678 ???!!! @@@@ #### $$$$ %%%%").asInstanceOf[java.lang.Double]
    assert(good > 0.7, s"good=$good")
    assert(garbage < 0.4, s"garbage=$garbage")
    assert(good > garbage)
  }

  test("fingerprints overlap for small edits, disjoint for unrelated text") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank " +
      "while the sun sets slowly behind the distant snowy mountains tonight"
    val b = a.replace("lazy", "sleepy") // one-token edit
    val c = "entirely unrelated content about catalyst optimizer rules and " +
      "whole stage code generation inside the spark sql execution engine"
    // the summary (n_fingerprints, min_fp, max_fp): the edit leaves
    // the grams away from "lazy" — and with them the largest selected
    // fingerprint — in place; unrelated text shares neither extreme
    val m = TextAnalysis.winnowFingerprintsTokens(
        Seq(("a", a), ("b", b), ("c", c)).toDF("id", "text"), "id", "text",
        k = 5, w = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(m("a")._2 === m("b")._2, s"edit moved max_fp: $m")
    Seq("a", "b").foreach { x =>
      assert(m("c")._1 != m(x)._1 && m("c")._2 != m(x)._2,
        s"unrelated text shares an extreme with $x: $m")
    }
  }

  test("winnowFingerprintsTokens matches a brute-force reference") {
    // portable-hash reference computed imperatively on the driver
    def ph(s: String): Long =
      java.lang.Long.parseLong(graft.core.Hashing.md5Hex(s).take(8), 16)
    def brute(text: String, k: Int, w: Int): (Int, Long, Long) = {
      val toks = text.toLowerCase.split("[^a-z0-9_]+").filter(_.nonEmpty)
      val fps: Set[Long] =
        if (toks.length < k) Set(ph(toks.mkString(" ")))
        else {
          val grams = toks.sliding(k).map(g => ph(g.mkString(" "))).toArray
          if (grams.length < w) Set(grams.min)
          else grams.sliding(w).map(_.min).toSet
        }
      (fps.size, fps.min, fps.max)
    }
    val texts = Seq(
      0L -> ("the quick brown fox jumps over the lazy dog near the river " +
        "bank while the sun sets slowly behind the mountains tonight"),
      1L -> "short one",                        // < k tokens
      2L -> "",                                 // no tokens at all
      3L -> "five tokens right here exactly",   // exactly k (one gram)
      4L -> ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu"))                           // k..k+w gram territory
    val got = TextAnalysis.winnowFingerprintsTokens(
        texts.toDF("doc_id", "text"), "doc_id", "text", k = 5, w = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      .toMap
    texts.foreach { case (id, text) =>
      assert(got(id) === brute(text, 5, 8), s"doc $id drifted")
    }
  }

  test("fingerprint is deterministic") {
    // same rows on a rerun and at another parallelism
    val df = (0 until 40).map(i => (i.toLong,
        s"same text for both runs of this determinism check with words $i"))
      .toDF("doc_id", "text")
    def run(in: org.apache.spark.sql.DataFrame) =
      TextAnalysis.winnowFingerprintsTokens(in, "doc_id", "text", k = 5, w = 4)
        .collect().map(_.toSeq).toSet
    val first = run(df)
    assert(first.size === 40)
    assert(run(df) === first)
    assert(run(df.repartition(7)) === first)
  }

  test("topTerms ranks rare-and-frequent terms first, ties by term asc") {
    // corpus of 3 docs: "common" is in every doc (df=3), "rare" only in
    // doc 1 (df=1). With N=3: score(rare in d1) = 2*(3-1+1) = 6 beats
    // score(common in d1) = 3*(3-3+1) = 3 despite higher tf.
    val docs = Seq(
      1L -> "rare rare common common common",
      2L -> "common beta beta",
      3L -> "common gamma").toDF("doc_id", "text")
    val top = TextAnalysis.topTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(top((1L, 1)) === ("rare", 6L))
    assert(top((1L, 2)) === ("common", 3L))
    assert(top((2L, 1)) === ("beta", 6L))  // tf=2, df=1 -> 2*3
    assert(top((3L, 1)) === ("gamma", 3L)) // tf=1, df=1 -> 1*3
    // tie case: in doc 3, common scores 1*(3-3+1)=1 -> rank 2
    assert(top((3L, 2)) === ("common", 1L))
  }

  test("bpePairCounts: occurrence-weighted adjacent pairs, minPairCount prunes") {
    // vocab: abab(wc=2), ab(wc=1), cd(wc=1), x(len 1 -> skipped)
    val docs = Seq(
      1L -> "abab ab x",
      2L -> "ABAB cd!").toDF("doc_id", "text")
    def run(min: Long) = TextAnalysis.bpePairCounts(docs, "text", min)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val all = run(1L)
    // 'ab': positions 1,3 of abab + position 1 of ab -> n_positions 3,
    //       pair_count 2+2+1 = 5; 'ba': 1 position in abab, count 2
    assert(all === Map("ab" -> ((3L, 5L)), "ba" -> ((1L, 2L)),
      "cd" -> ((1L, 1L))))
    // the argmax row is the pair a BPE trainer merges first
    assert(all.maxBy(_._2._2)._1 === "ab")
    assert(run(2L) === all - "cd") // prune below the merge threshold
  }

  test("repetitionProfile: bigram occupancy + duplicate pseudo-lines") {
    // doc 1: "a b" bigram repeats; two identical 2-token lines of 4
    //   tokens: a b | a b -> toks [a,b,a,b], bigrams: "a b","b a","a b"
    //   -> top=2 of 3; chunk=2 lines: [a b],[a b] -> 1 dup of 2
    // doc 2: all-distinct tokens -> top bigram 1/3, no dup lines
    // doc 3: one token -> no bigrams, no complete line
    // doc 4: empty -> zeros
    val df = Seq(
      (1L, "a b a b"), (2L, "w x y z"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionProfile(df, "doc_id", "text", chunk = 2)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getLong(4),
          x.getDouble(5)))).toMap
    assert(r(1L) === ((3L, 2L, 0.6667, 2L, 0.5)))
    assert(r(2L) === ((3L, 1L, 0.3333, 2L, 0.0)))
    assert(r(3L) === ((0L, 0L, 0.0, 0L, 0.0)))
    assert(r(4L) === ((0L, 0L, 0.0, 0L, 0.0)))
  }

  test("scrubPii redacts emails then IPv4s; counts are pre-scrub") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org and 10.0.3.77 and x@y end",
      "no pii here",
      "two a@b.co c@d.io ips 1.2.3.4 999.999.1.1").toDF("text")
    val out = df.select(
      TextAnalysis.emailCount($"text").as("e"),
      TextAnalysis.ipv4Count($"text").as("i"),
      TextAnalysis.scrubPii($"text").as("s")).collect()
    assert(out(0).getInt(0) === 1) // x@y has no TLD -> not an email
    assert(out(0).getInt(1) === 1)
    assert(out(0).getString(2) ===
      "mail <EMAIL> and <IP> and x@y end")
    assert(out(1).getInt(0) === 0 && out(1).getInt(1) === 0)
    assert(out(1).getString(2) === "no pii here")
    assert(out(2).getInt(0) === 2)
    // "999.999.1.1" matches the 1-3-digit octet pattern — the scrub
    // is a pattern gate, not a semantic validator (identical in both
    // engines; pinned here).
    assert(out(2).getInt(1) === 2)
    assert(out(2).getString(2) === "two <EMAIL> <EMAIL> ips <IP> <IP>")
  }

  test("gopherRules: each rule discriminates; bounds are the paper's") {
    def run(text: String): Map[String, Any] = {
      val row = Seq(text).toDF("text")
        .select(TextAnalysis.gopherRules($"text"): _*).collect().head
      row.schema.fieldNames.zip(row.toSeq).toMap
    }
    // a passing doc: >= 50 words of plain prose with stopwords
    val prose = ("the quick brown fox jumps over that lazy dog near " +
      "a river bank and all of them have seen it happen with joy ") * 3
    val pass = run(prose)
    assert(pass("gopher_pass") === true)
    assert(pass("n_words").asInstanceOf[Int] >= 50)
    assert(pass("n_stop_hits").asInstanceOf[Int] >= 2)
    // too short
    assert(run("the dog and the cat have fun with all of that")("gopher_pass") === false)
    // bullet-dominated
    val bullets = (1 to 10).map(i => s"- bullet $i").mkString("\n")
    assert(run(prose + "\n" + bullets)("bullet_frac").asInstanceOf[Double] > 0.9)
    // ellipsis lines counted (both ... and …)
    val ell = run("first line...\nsecond line…\nthird plain line")
    assert(ell("ellipsis_frac") === 0.6667)
    // symbol ratio: '#' and ellipses against words
    val sym = run("# # # # # five tags")
    assert(sym("symbol_ratio").asInstanceOf[Double] > 0.1)
    // empty text: no NaNs, fails
    val empty = run("")
    assert(empty("n_words") === 0 && empty("mean_word_len") === 0.0)
    assert(empty("gopher_pass") === false)
  }

  test("chunkTokens: windows, stride overlap, partial-tail rule") {
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = (0 until 25).map(i => s"t$i")
    val out = TextAnalysis.chunkTokens(
        Seq((1L, toks.mkString(" ")), (2L, "only three tokens"),
          (3L, "")).toDF("doc_id", "text"),
        "doc_id", "text", window = 10, stride = 8, minTokens = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3))))
      .toMap
    // doc 1: 25 tokens, chunks at 0,8,16,24 -> sizes 10,10,9,1(<4 dropped)
    assert(out.keySet === Set((1L, 0), (1L, 1), (1L, 2)))
    assert(out((1L, 0)) === ((10, h(toks.slice(0, 10).mkString(" ")))))
    assert(out((1L, 1)) === ((10, h(toks.slice(8, 18).mkString(" ")))))
    assert(out((1L, 2)) === ((9, h(toks.slice(16, 25).mkString(" ")))))
    // doc 2 (3 tokens < minTokens) and doc 3 (empty) emit nothing
  }

  test("gopherRules native kernel == HOF form on varied/adversarial inputs") {
    // the round-6 codegen'd kernel (plans.GopherSignals) must match
    // the original pure-Catalyst HOF statement field-for-field,
    // including the unicode/locale edges the kernel re-implements:
    // code-point lengths, UTF8String-style lowercase (Kelvin sign),
    // 0x20-only trim, regexp_count's non-overlapping find
    val texts = Seq(
      null, "", " ", "\t", "the dog", "  spaced  out words  ",
      "\tthe\tbe\tto of and that have with extra tabs",
      "line one...\nline two…\n- bullet\n* star\n  • indented dot\nplain",
      "# # tags ### and ...... dots ….",
      ("the quick brown fox jumps over that lazy dog near a river " +
        "bank and all of them have seen it happen with joy ") * 3,
      "KELVIN theK WITH With wİth", // Kelvin sign lowers to 'k'
      "emoji 😀 token café Über straße",
      "ends with ellipsis...", "…", "...", "a\nb\nc\n", "\n\n\n",
      "only-symbols !!! ??? ###")
    val df = texts.toDF("text")
    val kernel = df.select(TextAnalysis.gopherRules($"text"): _*).collect()
    val hof = df.select(gopherRulesHof($"text"): _*).collect()
    kernel.zip(hof).zip(texts).foreach { case ((k, h), t) =>
      assert(k === h, s"mismatch on ${Option(t).map(_.take(60))}")
    }
  }

  test("tokenStats native kernel == HOF filter/isin form") {
    val stops = Seq("the", "a", "and", "of", "to", "in")
    val texts = Seq(null, "", "THE the tHe", "a b c the of in zzz",
      "unicode tÄst the", "  ", "'' the '", "in in in")
    val df = texts.toDF("text")
    val raw = split(lower($"text"), "[^a-z0-9_']+")
    val g = graft.plans.Kernels.token_stats(raw, array(stops.map(lit): _*))
    val w = filter(raw, x => length(x) > 0)
    val rows = df.select(
      g.getField("n_tokens").as("kn"), g.getField("n_hits").as("kh"),
      size(w).as("hn"),
      size(filter(w, x => x.isin(stops.map(lit): _*))).as("hh")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      if (t == null) {
        assert(r.isNullAt(0) && r.isNullAt(1), s"null text: $r")
      } else {
        assert(r.getInt(0) === r.getInt(2), s"n mismatch on '$t': $r")
        assert(r.getInt(1) === r.getInt(3), s"hits mismatch on '$t': $r")
      }
    }
  }

  test("chunkTokens kernel == relational statement") {
    val texts = Seq(
      (1L, (0 until 25).map(i => s"t$i").mkString(" ")),
      (2L, "only three tokens"), (3L, ""), (4L, null.asInstanceOf[String]),
      (5L, (0 until 200).map(i => s"w${i % 13}").mkString(" ")),
      (6L, "ümlaut tökens " * 30))
      .toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3))))
      .toMap
    val kernel = asMap(TextAnalysis.chunkTokens(texts, "doc_id", "text",
      window = 10, stride = 8, minTokens = 4))
    val relational = asMap(chunkTokensRelational(texts,
      "doc_id", "text", window = 10, stride = 8, minTokens = 4))
    assert(kernel === relational)
    assert(kernel.keySet.map(_._1) === Set(1L, 5L, 6L))
  }

  test("adjacent-pairs kernel == lag-window derivation (KN pair multiset)") {
    import org.apache.spark.sql.expressions.Window
    val texts = Seq((1L, "a b c a b"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "solo"), (5L, "x!!!y punct り splits"))
      .toDF("doc_id", "text")
    val kernel = texts.select(
        explode(graft.plans.Kernels.adjacent_pairs(
          split(lower($"text"), "[^a-z0-9_]+"))).as("p"))
      .select($"p.prev", $"p.w").collect()
      .map(r => (Option(r.getString(0)), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val relational = texts.select($"doc_id",
        posexplode(filter(split(lower($"text"), "[^a-z0-9_]+"),
          t => length(t) > 0)).as(Seq("pos", "w")))
      .withColumn("prev", lag($"w", 1).over(wDoc))
      .select($"prev", $"w").collect()
      .map(r => (Option(r.getString(0)), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(kernel === relational)
  }

  test("langId TokenStats form == fold form on varied inputs") {
    val texts = Seq(null, "", "the cat sat on the mat and it was happy",
      "der Hund und die Katze sind nicht im Haus aber auch",
      "el perro y el gato en la casa que no era este",
      "zzz qqq vvv no stopwords here", "mixed the der el und y of von de",
      "ümlaut für straße auf im", "a", "THE THE THE")
    val df = texts.toDF("text")
    val rows = df.select(TextAnalysis.langId($"text").as("k"),
      coalesce(langIdFold($"text"), lit("es")).as("f")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getString(0) === r.getString(1), s"langId mismatch on '$t'")
    }
  }

  test("hashClassifierScore native kernel == HOF fold form on varied inputs") {
    // the round-6 codegen'd kernel (plans.ClassifierScore) must match
    // the original aggregate/zip_with statement bit-for-bit, including
    // edge shapes (empty, single token, punctuation-only, null)
    val texts = Seq("", "hello", "the cat sat", "a", "!!!", "x y z w v u t",
      "The cat SAT on the MAT", "unicode tÄst mixed 123 tok9ns", null)
    val df = texts.toDF("text")
    val rows = df.select(
      TextAnalysis.hashClassifierScore($"text").as("kernel"),
      coalesce(hashClassifierScoreFold($"text"), lit(0L)).as("fold"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
  }

  test("hashClassifierScore: exact integer uni+bigram bucket-weight sum") {
    def w(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 1001 - 500
    }
    def score(text: String): Long = Seq(text).toDF("text")
      .select(TextAnalysis.hashClassifierScore($"text").as("s"))
      .collect().head.getLong(0)
    // empty and single-token edge cases
    assert(score("") === 0L)
    assert(score("hello") === w("hello"))
    // multi-token: unigrams + adjacent bigrams, recomputed independently
    val toks = Seq("the", "cat", "sat")
    val expected = toks.map(w).sum +
      toks.sliding(2).map(p => w(p.mkString(" "))).sum
    assert(score("The cat SAT") === expected) // lowercased tokenization
  }

  test("lexicalDiversity: TTR milli, repeats depress it, empty doc zero") {
    val docs = Seq(
      (1L, "one two three"),       // 3 types / 3 tokens -> 1000
      (2L, "spam spam spam spam"), // 1 / 4 -> 250
      (3L, "a b a"),               // 2 / 3 -> 666 (truncating DIV)
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((3L, 3L, 1000L)))
    assert(out(2L) === ((4L, 1L, 250L)))
    assert(out(3L) === ((3L, 2L, 666L)))
    assert(out(4L) === ((0L, 0L, 0L)), "empty doc joins back with zeros")
  }

  test("soft404Flag: phrase AND short body required; long mentions stay") {
    val longBody = "error 404 history essay " + ("x " * 400)
    val docs = Seq(
      (1L, "Page Not Found - nothing here"),  // phrase + short -> soft404
      (2L, longBody),                         // phrase but long -> keep
      (3L, "tiny page"),                      // short but no phrase -> keep
      (4L, "This article does not exist yet")) // wiki-style: phrase+short
      .toDF("doc_id", "text")
    val out = docs
      .select(col("doc_id") +: TextAnalysis.soft404Flag(col("text")): _*)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((true, true, true)))
    assert(out(2L) === ((true, false, false)),
      "a long article mentioning the phrase is not a soft 404")
    assert(out(3L) === ((false, true, false)))
    assert(out(4L) === ((true, true, true)))
  }
}

/** The executable semantics statements the generated kernels replaced
  * in [[TextAnalysis]]: HOF-fold and relational forms that the
  * equivalence tests above compare each kernel path to, row for row.
  */
object TextAnalysisSpec {
  import TextAnalysis.{DeStop, EnStop, EsStop, GopherStop, hashFeatureWeight}

  /** The single-fold HOF form of [[TextAnalysis.langId]], kept as the executable
    * semantics statement the TokenStats formulation must match
    * (equivalence test-pinned).
    */
  def langIdFold(text: Column): Column = {
    // ONE pass over ONE tokenization: the three per-language hit
    // counts (plus the token count) ride a single fold accumulator,
    // and the argmax happens in the finish lambda. The ratio
    // arithmetic in the finish lambda is the ORIGINAL expression
    // verbatim (same double divisions, same
    // comparisons), so results are bit-identical.
    val w = filter(split(lower(text), "[^a-zA-Zäöüßáéíóúñ']+"), x => length(x) > 0)
    val zero = struct(lit(0).as("en"), lit(0).as("de"), lit(0).as("es"),
      lit(0).as("n"))
    def hit(x: Column, stop: Seq[String]): Column =
      when(x.isin(stop.map(lit): _*), 1).otherwise(0)
    // NULL text: the old form's when-chain fell through every null
    // comparison to the final otherwise — preserved via coalesce
    coalesce(aggregate(w, zero,
      (acc, x) => struct(
        (acc.getField("en") + hit(x, EnStop)).as("en"),
        (acc.getField("de") + hit(x, DeStop)).as("de"),
        (acc.getField("es") + hit(x, EsStop)).as("es"),
        (acc.getField("n") + 1).as("n")),
      acc => {
        val n = acc.getField("n").cast("double")
        def ratio(f: String): Column =
          when(acc.getField("n") === 0, lit(0.0))
            .otherwise(acc.getField(f).cast("double") / n)
        val en = ratio("en"); val de = ratio("de"); val es = ratio("es")
        when(greatest(en, de, es) < 0.02, lit("und"))
          .when(en >= de && en >= es, lit("en"))
          .when(de >= en && de >= es, lit("de"))
          .otherwise(lit("es"))
      }), lit("es"))
  }

  /** The original pure-Catalyst HOF form of [[TextAnalysis.gopherRules]], kept as
    * the executable semantics statement the native kernel must match
    * (equivalence test-pinned).
    */
  def gopherRulesHof(text: Column): Seq[Column] = {
    val tk = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val nWords = size(tk)
    val nWordsD = nWords.cast("double")
    val meanLen = when(nWords === 0, lit(0.0)).otherwise(
      round(aggregate(tk, lit(0L), (acc, t) => acc + length(t))
        .cast("double") / nWordsD, 4))
    val nSymbols = regexp_count(text, lit("#")) +
      regexp_count(text, lit("\\.\\.\\.")) + regexp_count(text, lit("…"))
    val symbolRatio = when(nWords === 0, lit(0.0))
      .otherwise(round(nSymbols.cast("double") / nWordsD, 4))
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val bulletFrac = round(size(filter(lines,
      l => l.rlike("^\\s*[-*•]"))).cast("double") / nLines, 4)
    val ellipsisFrac = round(size(filter(lines,
      l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") / nLines, 4)
    val alphaFrac = when(nWords === 0, lit(0.0)).otherwise(
      round(size(filter(tk, t => t.rlike("[a-zA-Z]"))).cast("double") /
        nWordsD, 4))
    val stopHits = size(filter(tk,
      t => lower(t).isin(GopherStop.map(lit): _*)))
    val pass = nWords.between(50, 100000) && meanLen.between(3.0, 10.0) &&
      symbolRatio < 0.1 && bulletFrac < 0.9 && ellipsisFrac < 0.3 &&
      alphaFrac > 0.8 && stopHits >= 2
    Seq(nWords.cast("int").as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_word_frac"),
      stopHits.cast("int").as("n_stop_hits"), pass.as("gopher_pass"))
  }

  /** The original HOF fold form of
    * [[TextAnalysis.hashClassifierScore]], kept as
    * the executable semantics statement the native kernel must match
    * (equivalence test-pinned).
    */
  def hashClassifierScoreFold(text: Column, buckets: Int = 1001): Column = {
    val tk = filter(split(lower(text), "[^a-z0-9_']+"), t => length(t) > 0)
    val uni = coalesce(
      aggregate(tk, lit(0L), (acc, t) => acc + hashFeatureWeight(t, buckets)),
      lit(0L))
    val bi = when(size(tk) < 2, lit(0L)).otherwise(coalesce(aggregate(
      zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(1))),
        (a, b) => when(b.isNull, lit(0L))
          .otherwise(hashFeatureWeight(concat(a, lit(" "), b), buckets))),
      lit(0L), (acc, x) => acc + x), lit(0L)))
    uni + bi
  }

  /** The original relational statement of [[TextAnalysis.chunkTokens]] — kept as
    * the executable semantics the native kernel must match
    * (equivalence test-pinned); the kernel is the production path.
    */
  def chunkTokensRelational(df: DataFrame,
      idCol: String, textCol: String, window: Int = 64, stride: Int = 48,
      minTokens: Int = 8): DataFrame = {
    require(stride > 0 && stride <= window && minTokens >= 1)
    val toks = filter(split(lower(col(textCol)), "[^a-z0-9_']+"),
      t => length(t) > 0)
    val ex = df.select(col(idCol), posexplode(toks).as(Seq("pos", "tok")))
    // token at pos belongs to chunk c iff c*stride <= pos < c*stride+window
    // i.e. c in [ceil((pos-window+1)/stride), floor(pos/stride)]
    val lo = greatest(ceil((col("pos") - window + 1).cast("double") / stride)
      .cast("int"), lit(0))
    val hi = expr(s"pos div $stride").cast("int") // int div, NOT / (double)
    ex.select(col(idCol), col("pos"), col("tok"),
        explode(sequence(lo, hi)).as("chunk_id"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")))).as("chunk_hash"))
      .filter(col("n_tokens") >= minTokens)
  }
}
