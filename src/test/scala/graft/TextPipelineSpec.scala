package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.dedup.Dedup
import graft.similarity.Vectors
import graft.io.Sinks

/** Invariants for the round-3 text-pipeline additions: PII redaction,
  * line-level dedup, vocabulary/TF-IDF, bigram LM scoring, embedding
  * quantization, and the range-clustered layout sink.
  */
class TextPipelineSpec extends SparkSpec {

  test("dictionaryEncode: global sorted rank, partition-invariant") {
    import spark.implicits._
    val vals = scala.util.Random.shuffle((0 until 500).map(i => f"t$i%03d"))
    val df = vals.map(Tuple1(_)).toDF("token")
    val ids = TextAnalysis.dictionaryEncode(df.repartition(17), "token")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ids are exactly the sorted rank, regardless of input layout
    assert(ids.size === 500)
    vals.sorted.zipWithIndex.foreach { case (v, i) =>
      assert(ids(v) === i.toLong, s"$v")
    }
    val ids2 = TextAnalysis.dictionaryEncode(df.repartition(3), "token")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ids === ids2, "same ids under any partitioning")
    // duplicates and nulls: distinct first, nulls dropped
    val withDups = (df.union(df)).union(
      Seq(Tuple1(null.asInstanceOf[String])).toDF("token"))
    assert(TextAnalysis.dictionaryEncode(withDups, "token").count() === 500)
  }

  test("sessionize labels agree with session_window aggregation") {
    // the per-event labels' (user, session) group sizes must be the
    // same multiset as q_session_window's per-session counts over the
    // same data (minus the oracle fixture)
    val dir = "/root/testdata/sf0.001"
    val labeled = SparkEntry.queries("q_sessionize")(spark, dir)
      .groupBy("user_id", "session_no").count()
      .select("user_id", "count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val agg = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), "1 hour"))
      .count().select("user_id", "count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(labeled === agg)
  }

  test("encodeTokens: ordered ids through the dictionary, OOV = -1") {
    import spark.implicits._
    val docs = Seq((1L, "b a c a"), (2L, "a zzz")).toDF("doc_id", "text")
    // dictionary built from doc 1 only: 'zzz' is out-of-vocabulary
    val dict = TextAnalysis.dictionaryEncode(
      docs.filter(col("doc_id") === 1L)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token")),
      "token") // a->0, b->1, c->2
    val out = TextAnalysis.encodeTokens(docs, dict)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "1,0,2,0", "token order preserved, not sorted")
    assert(out(2L) === "0,-1", "OOV encodes as -1")
  }

  test("bpeSubwords: greedy lowest-rank merges, leftmost ties, codegen") {
    import spark.implicits._
    val merges = Seq("t" -> "a", "ta" -> "b", "l" -> "e", "tab" -> "le",
      "e" -> "r", "o" -> "r", "q" -> "q")
    val docs = Seq(
      (1L, "table"), // full merge chain: t+a, ta+b, l+e, tab+le
      (2L, "order"), // (e,r) rank 4 beats (o,r) rank 5 despite position
      (3L, "qqq"), // tied (q,q) pairs: leftmost merges first -> qq|q
      (4L, "x"), (5L, "")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        array_join(TextAnalysis.bpeSubwords(col("text"), merges), "|")
          .as("sub"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "table")
    assert(out(2L) === "or|d|er",
      "rank priority: er merges before or is considered at its turn")
    assert(out(3L) === "qq|q", "tie broken leftmost")
    assert(out(4L) === "x" && out(5L) === "")
    // the projection must stay inside whole-stage codegen (a parquet
    // scan, not a LocalTableScan, which skips codegen entirely)
    val plan = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(TextAnalysis.bpeSubwords(col("text"), merges))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_bpe_encode"),
      s"the '*' codegen marker must cover the BPE projection:\n$plan")
    assert(plan.contains("graft_bpe_encode(7 merges"),
      s"plan string must print merge count, not contents:\n$plan")
  }

  test("bpeSubwords: property — matches an independent reference over " +
    "random words and merge tables") {
    import spark.implicits._
    // independent one-at-a-time greedy reference (list splice instead
    // of the expression's in-place buffer), deterministic seed
    def refBpe(word: String, merges: Seq[(String, String)]): List[String] = {
      val rank = merges.zipWithIndex.groupBy(_._1)
        .map { case (p, rs) => p -> rs.map(_._2).min }
      @annotation.tailrec
      def go(toks: List[String]): List[String] = {
        val pairs = toks.zip(toks.drop(1)).zipWithIndex
          .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
        if (pairs.isEmpty) toks
        else {
          val (_, i) = pairs.minBy { case (r, i) => (r, i) }
          go(toks.take(i) ::: (toks(i) + toks(i + 1)) :: toks.drop(i + 2))
        }
      }
      go(word.map(_.toString).toList)
    }
    val rng = new scala.util.Random(20260813L)
    val alphabet = "abc"
    def randWord(max: Int): String =
      (0 until rng.nextInt(max + 1))
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    for (trial <- 0 until 20) {
      val vocabFragments =
        (0 until 6).map(_ => randWord(3)).filter(_.nonEmpty)
      val merges = (0 until 8).map { _ =>
        val pick = () => vocabFragments(rng.nextInt(vocabFragments.size))
        pick() -> pick()
      }
      val docs = (0 until 30)
        .map(i => (i.toLong, Seq.fill(3)(randWord(8)).mkString(" ")))
        .toDF("doc_id", "text")
      val got = docs.select(col("doc_id"),
          array_join(TextAnalysis.bpeSubwords(col("text"), merges), "|"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      docs.collect().foreach { r =>
        val exp = r.getString(1).split(" ", -1)
          .flatMap(w => refBpe(w, merges)).mkString("|")
        assert(got(r.getLong(0)) === exp,
          s"trial $trial merges=$merges text='${r.getString(1)}'")
      }
    }
  }

  test("decodeTokens: inverse of encodeTokens; OOV ids decode to unk") {
    import spark.implicits._
    val docs = Seq((1L, "b a c a"), (2L, "a zzz")).toDF("doc_id", "text")
    val dict = TextAnalysis.dictionaryEncode(
      docs.filter(col("doc_id") === 1L)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token")),
      "token") // a->0, b->1, c->2; 'zzz' is OOV
    val round = TextAnalysis.decodeTokens(
        TextAnalysis.encodeTokens(docs, dict), dict)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(round(1L) === "b a c a", "in-vocab round trip is identity")
    assert(round(2L) === "a <unk>", "OOV -1 decodes to the unk marker")
  }

  test("scoreLinearModel: exact fixed-point logit, hand-checked sigmoid") {
    import spark.implicits._
    // nBuckets = 1 pins every token to bucket 0 (weight 2 tenths), so
    // the logit is hand-computable: z10 = n_tokens * 2 + bias
    val docs = Seq((1L, "a b c"), (2L, "a")).toDF("doc_id", "text")
    val w = Seq((0L, 2L)).toDF("bucket", "w10")
    val out = TextAnalysis.scoreLinearModel(docs, w, nBuckets = 1,
        bias10 = 4L).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 1.0) // (3*2 + 4) / 10
    assert(out(1L)._2 === 0.731059) // sigmoid(1.0) to 6 decimals
    assert(out(2L)._1 === 0.6)
  }

  test("learnBpeMerges: frequency-ranked merges, hand-checked; " +
    "stop rule; apply round-trip") {
    import spark.implicits._
    // "ab" appears 5x (3 in doc1's abc + 2 standalone), "bc" 3x.
    // round 1 must pick (a,b); round 2 sees abc -> [ab, c] so (ab, c)
    // has count 3 and beats nothing else; round 3: "ab ab" words are
    // single tokens now -> only pairs with count < 2 remain -> stop
    val docs = Seq(
      (1L, "abc abc abc ab ab"),
      (2L, "xy")).toDF("doc_id", "text")
    val merges = TextAnalysis.learnBpeMerges(docs, nMerges = 10)
    assert(merges === Seq("a" -> "b", "ab" -> "c"),
      "ranked by weighted pair frequency; (x,y) count 1 is below the " +
        "stop threshold")
    // applying the learned table reproduces whole-word tokens
    val enc = docs.select(col("doc_id"),
        array_join(TextAnalysis.bpeSubwords(col("text"), merges), "|"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(enc(1L) === "abc|abc|abc|ab|ab")
    assert(enc(2L) === "x|y", "unmerged pair stays split")
    // nMerges = 0 learns nothing
    assert(TextAnalysis.learnBpeMerges(docs, 0) === Seq.empty)
  }

  test("learnBpeMerges: Spark-job count is independent of nMerges " +
    "(driver-local incremental trainer, not one job per merge)") {
    import spark.implicits._
    val docs = (0 until 200)
      .map(i => (i.toLong, s"ab${"c" * (i % 5)} abc ab ba cab"))
      .toDF("doc_id", "text")
    def countJobs(body: => Unit): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try body finally ()
      // listener delivery is async: wait until the count stabilizes
      var prev = -1L
      var polls = 0
      while (n.get() != prev && polls < 50) {
        prev = n.get(); Thread.sleep(100); polls += 1
      }
      spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    TextAnalysis.learnBpeMerges(docs, 1) // warm-up outside the counters
    val fewJobs = countJobs { TextAnalysis.learnBpeMerges(docs, 2) }
    val manyJobs = countJobs { TextAnalysis.learnBpeMerges(docs, 12) }
    assert(manyJobs === fewJobs,
      "6x the merges must launch the same number of Spark jobs - the " +
        "training rounds are driver-local")
    assert(fewJobs <= 4L,
      s"the dictionary build should be a handful of jobs, got $fewJobs")
  }

  test("trainBpeDriver: property — incremental pair counts match the " +
    "per-round full re-segmentation reference") {
    // reference: every round re-segments EVERY word with the greedy
    // lowest-rank walk, counts adjacent pairs weighted by word count,
    // and promotes (count desc, then (a, b)) with the stop rule — the
    // form the oracle replays and the pre-r7 implementation ran
    def refBpe(word: String, merges: Seq[(String, String)]): List[String] = {
      val rank = merges.zipWithIndex.groupBy(_._1)
        .map { case (p, rs) => p -> rs.map(_._2).min }
      @annotation.tailrec
      def go(toks: List[String]): List[String] = {
        val pairs = toks.zip(toks.drop(1)).zipWithIndex
          .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
        if (pairs.isEmpty) toks
        else {
          val (_, i) = pairs.minBy { case (r, j) => (r, j) }
          go(toks.take(i) ::: (toks(i) + toks(i + 1)) :: toks.drop(i + 2))
        }
      }
      go(word.map(_.toString).toList)
    }
    def refTrain(dict: Seq[(String, Long)], nMerges: Int,
                 minPairCount: Long): Seq[(String, String)] = {
      val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
      var stop = false
      while (!stop && merges.size < nMerges) {
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        dict.foreach { case (w, c) =>
          val toks = refBpe(w, merges.toList)
          toks.zip(toks.drop(1)).foreach(p => pc(p) = pc.getOrElse(p, 0L) + c)
        }
        val cands = pc.toSeq.filter(_._2 >= minPairCount)
        if (cands.isEmpty) stop = true
        else merges += cands.minBy { case ((a, b), c) => (-c, a, b) }._1
      }
      merges.toList
    }
    val rng = new scala.util.Random(20260813L)
    for (trial <- 0 until 60) {
      // the unary alphabet maximizes token-string reuse across rounds —
      // the regime where incremental application could diverge
      val alphabet = Seq("a", "ab", "abc")(trial % 3)
      val dict = (0 until 30).map { _ =>
        ((1 to 1 + rng.nextInt(8))
          .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString,
          1L + rng.nextInt(5))
      }.groupBy(_._1).map { case (w, rows) => (w, rows.map(_._2).sum) }
        .toArray
      val exp = refTrain(dict.toSeq, 15, 2L)
      val got = TextAnalysis.trainBpeDriver(dict, 15, 2L)
      assert(got === exp, s"trial $trial dict=${dict.toSeq.sorted}")
    }
  }

  test("greedySegment: driver twin of the codegen'd BpeEncodeExpr walk " +
    "for arbitrary merge tables (duplicate pairs keep the first rank)") {
    val rng = new scala.util.Random(41L)
    def refBpe(word: String, merges: Seq[(String, String)]): List[String] = {
      val rank = merges.zipWithIndex.groupBy(_._1)
        .map { case (p, rs) => p -> rs.map(_._2).min }
      @annotation.tailrec
      def go(toks: List[String]): List[String] = {
        val pairs = toks.zip(toks.drop(1)).zipWithIndex
          .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
        if (pairs.isEmpty) toks
        else {
          val (_, i) = pairs.minBy { case (r, j) => (r, j) }
          go(toks.take(i) ::: (toks(i) + toks(i + 1)) :: toks.drop(i + 2))
        }
      }
      go(word.map(_.toString).toList)
    }
    for (trial <- 0 until 40) {
      val frags = (0 until 6).map(_ =>
        (1 to 1 + rng.nextInt(3)).map(_ => "ab" (rng.nextInt(2))).mkString)
      val merges = (0 until 8).map { _ =>
        (frags(rng.nextInt(frags.size)), frags(rng.nextInt(frags.size)))
      }
      val ranks = new java.util.HashMap[String, Integer]
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        ranks.putIfAbsent(a + "\u0001" + b, i)
      }
      for (_ <- 0 until 20) {
        val w = (0 until rng.nextInt(10)).map(_ => "ab" (rng.nextInt(2)))
          .mkString
        assert(TextAnalysis.greedySegment(w, ranks).toList ===
          refBpe(w, merges), s"trial $trial word='$w' merges=$merges")
      }
    }
  }

  test("utf8Compare: UTF-8 bytewise order (Spark/DuckDB), not Java " +
    "UTF-16 code-unit order") {
    val bmp = "\uE000" // 3-byte UTF-8, but UTF-16 unit 0xE000
    val supp = new String(Character.toChars(0x10000)) // 4-byte UTF-8
    assert(TextAnalysis.utf8Compare(bmp, supp) < 0,
      "code-point order: U+E000 < U+10000")
    assert(bmp.compareTo(supp) > 0,
      "Java disagrees here - the custom comparator is load-bearing")
    assert(TextAnalysis.utf8Compare("ab", "ab") === 0)
    assert(TextAnalysis.utf8Compare("ab", "abc") < 0)
    assert(TextAnalysis.utf8Compare("b", "ab") > 0)
  }

  test("learnBpeMerges: vocab ceiling throws with remediation; " +
    "minWordCount prunes the long tail") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc dd ee aa bb")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.learnBpeMerges(docs, 2, maxVocab = 3)
    }
    assert(e.getMessage.contains("minWordCount"),
      "the failure must name the remediation")
    // minWordCount = 2 drops the once-seen words: only 'aa' (2) and
    // 'bb' (2) train, so the merges are (a,a) then (b,b)
    val merges = TextAnalysis.learnBpeMerges(docs, 10, minWordCount = 2L)
    assert(merges === Seq("a" -> "a", "b" -> "b"))
  }

  test("byte-level BPE: decode(encode(x)) is the identity for any " +
    "text and any merges — nothing is OOV") {
    import spark.implicits._
    val rng = new scala.util.Random(99L)
    def randText(): String = (0 until rng.nextInt(12)).map { _ =>
      rng.nextInt(6) match {
        case 0 => " "
        case 1 => ('a' + rng.nextInt(26)).toChar.toString
        case 2 => "\u00e9" // 2-byte UTF-8
        case 3 => "\u65e5" // 3-byte
        case 4 => new String(Character.toChars(0x1F600 + rng.nextInt(16)))
        case _ => ('0' + rng.nextInt(10)).toChar.toString
      }
    }.mkString
    // edges: empty, pure/leading/trailing/doubled spaces — the space
    // is ENCODED (leading-space convention), so all must survive
    val texts = Seq("", " ", "  ", " a", "a ", "a  b") ++
      (0 until 40).map(_ => randText())
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = TextAnalysis.learnBpeMerges(docs, 6, byteLevel = true)
    for (m <- Seq(merges, Nil)) {
      val round = docs.select(col("doc_id"),
          TextAnalysis.bpeDecodeBytes(
            TextAnalysis.bpeSubwordsBytes(col("text"), m)).as("rt"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(round(i.toLong) === t,
          s"round trip must be byte-exact (merges=${m.size}, i=$i)")
      }
    }
  }

  test("byte-level BPE: the symbol table is a bijection and learned " +
    "merges actually compress") {
    import graft.plans.BpeBytes
    assert(BpeBytes.byteToChar.distinct.length === 256)
    (0 until 256).foreach { b =>
      assert(BpeBytes.charToByte(BpeBytes.byteToChar(b)) === b.toByte)
    }
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, "abab abab baba"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.learnBpeMerges(docs, 8, byteLevel = true)
    assert(merges.nonEmpty, "byte-level training must find merges")
    val sizes = docs.limit(1).select(
        size(TextAnalysis.bpeSubwordsBytes(col("text"), merges)).as("n"),
        size(TextAnalysis.bpeSubwordsBytes(col("text"), Nil)).as("n0"))
      .collect().head
    assert(sizes.getInt(0) < sizes.getInt(1),
      "merged token stream must be shorter than the raw symbol stream")
  }

  test("encodeTokensBpe: subword ids ordered within and across words") {
    import spark.implicits._
    val merges = Seq("a" -> "b")
    val docs = Seq((1L, "abc ab")).toDF("doc_id", "text")
    // subwords: ab,c,ab -> dict: ab->0, c->1
    val out = TextAnalysis.encodeTokensBpe(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "0,1,0")
  }

  test("redactPii masks emails, phones, and IPs; counts match") {
    import spark.implicits._
    val df = Seq(
      (0L, "write bob.smith+x@sub.example.co.uk or call 555-867-5309"),
      (1L, "server at 192.168.0.1 and 10.0.0.255 no pii after that"),
      (2L, "plain text with digits 12345 and a dot. end"),
      (3L, "a@b.io 1.2.3.4 111.222.333.4444")).toDF("doc_id", "text")
    val out = df.select(col("doc_id") +:
      TextAnalysis.redactPii(col("text")).as("clean") +:
      TextAnalysis.piiCounts(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L)._1 === "write <EMAIL> or call <PHONE>")
    assert(out(0L)._2 === 1L && out(0L)._3 === 1L && out(0L)._4 === 0L)
    assert(out(1L)._1 === "server at <IP> and <IP> no pii after that")
    assert(out(1L)._4 === 2L)
    assert(out(2L)._1 === "plain text with digits 12345 and a dot. end",
      "no false positives on plain text")
    assert(out(2L)._2 + out(2L)._3 + out(2L)._4 === 0L)
    assert(out(3L)._1.startsWith("<EMAIL> <IP>"),
      "email and IP both masked when adjacent")
  }

  test("lineDedup keeps first occurrence, drops repeats, rebuilds docs") {
    import spark.implicits._
    val df = Seq(
      (0L, "dup line\nunique a"),
      (1L, "dup line\nunique b\ndup line"),
      (2L, "dup line")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "dup line\nunique a",
      "first occurrence (min doc, min pos) survives")
    assert(out(1L) === "unique b", "both repeats removed from doc 1")
    assert(out(2L) === "", "doc whose every line was seen earlier → empty")
  }

  test("lineDedup within-doc repeats keep only the earliest position") {
    import spark.implicits._
    val df = Seq((7L, "x\ny\nx\ny\nz")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(df).collect().head.getString(1)
    assert(out === "x\ny\nz")
  }

  test("intraDocLineDedup: within-doc repeats collapse to the first " +
    "occurrence; cross-doc repeats survive once per doc") {
    import spark.implicits._
    val df = Seq(
      (0L, "nav\nbody a\nnav\nbody b\nnav"),
      (1L, "nav\nonly here")).toDF("doc_id", "text")
    val out = Dedup.intraDocLineDedup(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "nav\nbody a\nbody b",
      "repeats collapse, original order kept")
    assert(out(1L) === "nav\nonly here",
      "a line repeated in ANOTHER doc is not intra-doc duplication " +
        "(corpus-wide arbitration is lineDedup's job)")
  }

  test("perplexityFilter: hand-checked Lidstone bigram cross-entropy, " +
    "bucket edges, unscored single-token doc") {
    import spark.implicits._
    // ref "a b a c": bigrams {a b, b a, a c} each once; bigram starts
    // ctx(a)=2, ctx(b)=1; vocabulary V = |{a,b,c}| = 3
    val ref = Seq((100L, "a b a c")).toDF("doc_id", "text")
    val docs = Seq(
      (0L, "a b"),     // ln(3/7)            → xent 0.847298 → head
      (1L, "a b b a"), // +ln(1/5), ln(3/5)  → xent 0.989187 → middle
      (2L, "z z"),     // unseen: ln(1/3)    → xent 1.098612 → tail
      (3L, "a")        // no bigrams         → unscored
    ).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityFilter(docs, ref,
        headMax = 0.9, middleMax = 1.0).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2)),
          r.getString(3)))).toMap
    assert(out(0L) === ((1L, Some(0.847298), "head")),
      "P(b|a) = (2·1+1)/(2·2+3) = 3/7")
    assert(out(1L) === ((3L, Some(0.989187), "middle")),
      "mean of quantized ln(3/7), ln(1/5), ln(3/5)")
    assert(out(2L) === ((1L, Some(1.098612), "tail")),
      "fully unseen mass: (0+1)/(0+V) = 1/3 for the one bigram")
    assert(out(3L) === ((0L, None, "unscored")),
      "a one-token doc has no bigrams and no score")
  }

  test("perplexityFilter: an empty reference fails loudly instead of " +
    "silently diverging at V=0") {
    import spark.implicits._
    val docs = Seq((0L, "a b")).toDF("doc_id", "text")
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[Exception](
      TextAnalysis.perplexityFilter(docs, ref, 1.0, 2.0).collect())
    assert(e.getMessage.contains("V=0") ||
      Option(e.getCause).exists(_.getMessage.contains("V=0")))
  }

  test("perplexityFilter: invariant to shuffle order / partitioning " +
    "(fixed-point micro-nat sums)") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"w$i the quick brown fox w${i % 7} jumps"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.perplexityFilter(docs, docs, 3.0, 5.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = TextAnalysis.perplexityFilter(docs.repartition(7), docs, 3.0, 5.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a === b, "score must not depend on partitioning")
  }

  test("bm25TopK: ranking matches an independent scalar reference; " +
    "rank column, k cap, and distinct-query-term rule hold") {
    import spark.implicits._
    val docs = Seq((0L, "x x y"), (1L, "x z"), (2L, "z z z w"))
      .toDF("doc_id", "text")
    val qs = Seq((0L, "x w"), (1L, "x x")).toDF("query_id", "qtext")
    val out = TextAnalysis.bm25TopK(docs, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap

    // independent reference: same formula, plain Scala doubles
    val corpus = Map(0L -> Seq("x", "x", "y"), 1L -> Seq("x", "z"),
      2L -> Seq("z", "z", "z", "w"))
    val n = corpus.size.toDouble
    val sdl = corpus.values.map(_.size).sum.toDouble
    def ref(terms: Set[String], d: Long): Double = {
      val toks = corpus(d)
      val micro = terms.toSeq.sorted.flatMap { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) None else {
          val df = corpus.values.count(_.contains(t)).toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          val denom = tf + 1.25 *
            (0.25 + 0.75 * toks.size * n / sdl)
          Some(math.round(idf * (tf * 2.25) / denom * 1e6))
        }
      }.sum
      micro / 1e6
    }
    for (((q, d), (score, _)) <- out) {
      val terms = if (q == 0L) Set("x", "w") else Set("x")
      assert(math.abs(score - ref(terms, d)) < 1e-9,
        s"query $q doc $d: engine $score vs reference ${ref(terms, d)}")
    }
    // query 0 ranking: doc 2 (rare 'w') > doc 0 (tf_x=2) > doc 1
    assert(out((0L, 2L))._2 === 1L && out((0L, 0L))._2 === 2L &&
      out((0L, 1L))._2 === 3L, s"ranking: $out")
    // distinct-term rule: 'x x' scores exactly like 'x' would — doc 2
    // has no 'x' so query 1 returns only docs 0 and 1
    assert(!out.contains((1L, 2L)) && out((1L, 0L))._2 === 1L)
    // k cap
    val capped = TextAnalysis.bm25TopK(docs, qs, 1).collect()
    assert(capped.length === 2, "one row per query at k=1")
  }

  test("trainLinearModel: exact weight equality with an independent " +
    "scalar GD reference; partitioning-invariant; learns separation") {
    import spark.implicits._
    val good = (0L until 20L).map(i => (i, s"fine prose here p$i", 1))
    val junk = (20L until 40L).map(i => (i, s"zz xx qq junk j$i", 0))
    val docs = (good ++ junk).toDF("doc_id", "text", "lab")
    val w = TextAnalysis.trainLinearModel(docs, col("lab") === 1, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // independent reference: same hash, same integer GD, plain Scala
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val rows = (good ++ junk).map { case (_, t, l) =>
      (t.split(" ").toSeq.map(tok => h60(tok) % 64)
        .groupBy(identity).map { case (b, g) => b -> g.size.toLong },
        l.toLong * 1000000L)
    }
    val n = rows.size
    var ref = Map.empty[Long, Long]
    (0 until 3).foreach { _ =>
      val grads = collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      rows.foreach { case (cnts, y6) =>
        val z = cnts.map { case (b, c) => ref.getOrElse(b, 0L) * c }.sum
        val s6 = java.math.BigDecimal.valueOf(
            1000000.0 / (1.0 + math.exp(-(z.toDouble / 1000000.0))))
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
        cnts.foreach { case (b, c) => grads(b) += (y6 - s6) * c }
      }
      ref = grads.map { case (b, g) =>
        b -> (ref.getOrElse(b, 0L) + java.math.BigDecimal
          .valueOf(g.toDouble / (16.0 * n))
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
      }.toMap
    }
    assert(w === ref, "engine GD must equal the scalar reference exactly")

    val w2 = TextAnalysis.trainLinearModel(docs.repartition(7),
        col("lab") === 1, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w === w2, "weights are partitioning-invariant (integer sums)")

    val probs = TextAnalysis.scoreLinearModel(docs,
        TextAnalysis.trainLinearModel(docs, col("lab") === 1, 64)
          .withColumnRenamed("w6", "w10"), 64, quantScale = 1000000.0)
      .join(docs.select(col("doc_id"), col("lab")), "doc_id")
      .groupBy("lab").agg(avg("prob").as("p")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(probs(1) > probs(0) + 0.05,
      s"3 GD steps must separate the slices: $probs")
  }

  test("trainLinearModel: GD steps reuse the cached doc_id layout — no " +
    "planner-inserted doc_id exchange inside any step") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"tok${i % 7} tok${i % 3} word$i", (i % 2).toInt))
      .toDF("doc_id", "text", "lab")
    // the function's OUTPUT is a LocalRelation of collected weights, so
    // each step's gradient plan is only visible to a session listener:
    // keep the queries whose analyzed output is the (bucket, g) gradient
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          if (qe.analyzed.output.map(_.name) == Seq("bucket", "g"))
            captured.add(qe.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
    spark.listenerManager.register(listener)
    try {
      TextAnalysis.trainLinearModel(docs, col("lab") === 1, 64).collect()
      org.apache.spark.graft.ListenerFlush
        .waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val plans = captured.toArray(Array.empty[String])
    assert(plans.length === 3, "one captured gradient plan per GD step")
    // the cached tables are laid out by hash(doc_id) once (an explicit
    // REPARTITION_BY_NUM in the cache-build subtree); a planner-inserted
    // (ENSURE_REQUIREMENTS) doc_id exchange in a step plan means a GD
    // step is re-shuffling the corpus-sized feature table per step
    val docIdShuffle =
      """hashpartitioning\(doc_id#\d+L?, \d+\), ENSURE_REQUIREMENTS""".r
    plans.zipWithIndex.foreach { case (p, i) =>
      assert(docIdShuffle.findFirstIn(p).isEmpty,
        s"step ${i + 1} re-shuffles a doc_id-keyed table; the cached " +
          s"feature/label layout must satisfy every per-step operation:\n$p")
    }
  }

  test("cutSpans removes every occurrence of a duplicated run, keeps " +
    "the unique remainder") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"r$i").mkString(" ") // one k=8 window
    val docs = Seq(
      (0L, s"u1 u2 $run u3"),     // run + unique words
      (1L, s"$run v1 v2 v3"),     // same run, other uniques
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")) // no repeats anywhere
      .toDF("doc_id", "text")
    val out = Dedup.cutSpans(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "u1 u2 u3", "both flanks survive, run cut")
    assert(out(1L) === "v1 v2 v3",
      "ALL occurrences cut, including the first (decontamination rule)")
    assert(out(2L) === "w1 w2 w3 w4 w5 w6 w7 w8 w9",
      "documents without duplicated windows pass through unchanged")
    // a full-copy pair vanishes entirely
    val copies = Seq((0L, run), (1L, run)).toDF("doc_id", "text")
    val gone = Dedup.cutSpans(copies, 8).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gone === Map(0L -> "", 1L -> ""))
  }

  test("lineDedup verifyExact: colliding hashes don't merge distinct lines") {
    import spark.implicits._
    // force a universal hash collision (every line hashes to 0):
    // hash-only dedup merges the distinct lines; verifyExact keys on
    // (hash, line) and keeps both
    val df = Seq((0L, "alpha"), (1L, "bravo")).toDF("doc_id", "text")
    val collide: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _ => lit(0L)
    val merged = Dedup.lineDedup(df, hashFn = collide).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged === Map(0L -> "alpha", 1L -> ""),
      "hash-only mode silently drops the colliding later line")
    val exact = Dedup.lineDedup(df, verifyExact = true, hashFn = collide)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exact === Map(0L -> "alpha", 1L -> "bravo"),
      "verifyExact compares the line itself, so a collision can't drop data")
  }

  test("vocabulary: top-k by count with deterministic tie-break") {
    import spark.implicits._
    val df = Seq("b b b a a c c d").toDF("text")
    val rows = TextAnalysis.vocabulary(df, 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.head === ("b", 3L))
    assert(rows.toSeq === Seq(("b", 3L), ("a", 2L), ("c", 2L)),
      "ties broken by token text: 'a' before 'c', 'd' cut")
  }

  test("tfidf: ubiquitous terms score zero, rare terms score ln(N/df)") {
    import spark.implicits._
    val df = Seq((0L, "common rare"), (1L, "common other"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.tfidf(df).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows((0L, "common"))._3 === 0.0, "df = N → idf = ln(1) = 0")
    assert(rows((0L, "rare")) === ((1L, 1L,
      BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
  }

  test("bigramLmScore: corpus-frequent bigrams raise the doc score") {
    import spark.implicits._
    val df = Seq((0L, "a b c"), (1L, "a b x")).toDF("doc_id", "text")
    // bigrams: doc0 {a b, b c}, doc1 {a b, b x}; 'a b' occurs twice
    val rows = TextAnalysis.bigramLmScore(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(0L) === ((2L, 3L)), "2 bigrams, score 2 + 1")
    assert(rows(1L) === ((2L, 3L)))
  }

  test("quantizeMinMax: codes in range, reconstruction within half-step") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(0.0f, 0.5f, 1.0f, 0.25f)),
      (1L, Seq(3.0f, 3.0f, 3.0f, 3.0f))). // constant vector
      toDF("vec_id", "embedding")
    val out = Vectors.quantizeMinMax(df).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getSeq[Long](3))).toMap
    val (mn, mx, codes) = out(0L)
    assert(mn === 0.0 && mx === 1.0)
    assert(codes === Seq(0L, 128L, 255L, 64L))
    val step = (mx - mn) / 255.0
    Seq(0.0, 0.5, 1.0, 0.25).zip(codes).foreach { case (x, c) =>
      assert(math.abs(c * step + mn - x) <= step / 2.0 + 1e-12)
    }
    assert(out(1L)._3 === Seq(0L, 0L, 0L, 0L),
      "constant vector quantizes to all zeros, no NaN/divide-by-zero")
  }

  test("clusters: transitive pairs form one component, min-id labeled") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      val docs = (0L to 6L).toDF("doc_id")
      // components: {0,1,2} via chain 0-1,1-2; {4,5}; singletons 3, 6
      val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
      val out = Dedup.clusters(docs, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
        4L -> 4L, 5L -> 4L, 6L -> 6L))
    }
  }

  test("clusters: long chain converges within iteration bound") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      // a 100-node chain (diameter 99) under maxIter=12 only converges
      // if pointer jumping gives O(log diameter) rounds — plain 1-hop
      // propagation would need ~99 rounds and throw
      val n = 100L
      val docs = (0L until n).toDF("doc_id")
      val pairs = (0L until n - 1).map(i => (i + 1, i))
        .toDF("doc_a", "doc_b")
      val out = Dedup.clusters(docs, pairs, maxIter = 12).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.values.forall(_ === 0L), "whole chain collapses to min id")
    }
  }

  test("clusters: throws instead of returning unconverged labels") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      // diameter-9 chain cannot converge in 2 rounds — silent partial
      // labels would pass the gate with wrong data; the contract is throw
      val docs = (0L until 10L).toDF("doc_id")
      val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val e = intercept[IllegalStateException] {
        Dedup.clusters(docs, pairs, maxIter = 2).collect()
      }
      assert(e.getMessage.contains("maxIter=2"))
    }
  }

  test("randomProject: deterministic, linear, zero maps to zero") {
    import spark.implicits._
    val a = (0 until 64).map(d => (d % 7 - 3).toFloat)
    val zero = Seq.fill(64)(0.0f)
    val df = Seq((0L, a), (1L, a), (2L, zero)).toDF("vec_id", "embedding")
    val rows = Vectors.randomProject(df, 4, 64).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getDouble(i))).toMap
    assert(rows(0L) === rows(1L), "same vector → identical projection")
    assert(rows(2L) === Seq(0.0, 0.0, 0.0, 0.0))
    assert(rows(0L).exists(_ !== 0.0), "nonzero vector projects nonzero")
  }

  test("duplicateSpans: repeated k-runs found, overlaps merged") {
    import spark.implicits._
    // shared run "c d e f" (k=3 → windows at 2..3 in doc0, 0..1 in doc1);
    // doc0 also repeats "x y z" inside itself at positions 6 and 10
    val docs = Seq(
      (0L, "a b c d e f x y z q x y z"),
      (1L, "c d e f other words here entirely"),
      (2L, "nothing shared with anyone at all")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    // doc 0: 'c d e f' covers 2..5, its within-doc repeat 'x y z' covers
    // 6..8 — adjacent coverage merges into one maximal range 2..8; the
    // second 'x y z' site reports separately; doc 2 shares nothing
    assert(spans === Set(
      (0L, 2, 8, 7), (0L, 10, 12, 3), (1L, 0, 3, 4)))
  }

  test("writeRangeLayout: lossless, files cover disjoint key ranges") {
    import spark.implicits._
    val path = "/tmp/graft_test_range_layout"
    val df = (0 until 1000).map(i => ((i * 7919) % 1000, i))
      .toDF("k", "payload")
    Sinks.writeRangeLayout(df, path, Seq("k"), 4)
    val back = spark.read.parquet(path)
    assert(back.count() === 1000)
    assert(back.agg(sum("payload")).head.getLong(0) ===
      (0 until 1000).map(_.toLong).sum)
    val ranges = back
      .select(input_file_name().as("f"), col("k"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(ranges.length > 1, "multiple range files written")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges overlap: hi=$hi lo2=$lo2")
      case _ =>
    }
  }

  test("tokenClassMi: hand-computed MI, symmetry tie, deterministic cut") {
    import spark.implicits._
    // cat: only in 'en' docs -> perfect association, MI = ln 2
    // bird / dog: mirror-symmetric presence patterns -> equal MI,
    // tie broken alphabetically
    val docs = Seq(
      (0L, "en", "cat dog"), (1L, "en", "cat"),
      (2L, "de", "dog"), (3L, "de", "dog bird"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.tokenClassMi(docs, k = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq === Seq("cat", "bird", "dog"))
    assert(math.abs(got(0)._2 - math.log(2.0)) < 1e-5, got(0).toString)
    assert(got(1)._2 === got(2)._2, "symmetric patterns must tie")
    val expectBird = 0.25 * math.log(2.0) +
      0.5 * math.log(4.0 / 3.0) + 0.25 * math.log(2.0 / 3.0)
    assert(math.abs(got(1)._2 - expectBird) < 1e-5, got(1).toString)
    // a token in EVERY doc carries zero information about the class
    val withThe = docs.withColumn("text",
      concat(lit("the "), col("text")))
    val all = TextAnalysis.tokenClassMi(withThe, k = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(all("the") === 0.0, all.toString)
    // partition-invariant (quantized sums, no float-order drift)
    val again = TextAnalysis.tokenClassMi(docs.repartition(7), k = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(again.toSeq === got.toSeq)
  }
}
