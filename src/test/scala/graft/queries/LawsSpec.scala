package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit, pmod}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5): set-operation cardinality laws,
  * three-valued-logic behavior, federation-union equivalence — over
  * seeded generated tables (plain scalacheck Gen; the scalatest
  * bridge artifact isn't in the offline cache).
  */
class LawsSpec extends SparkSpec {
  import spark.implicits._

  private val listGen = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 9)))

  private def samples(count: Int): Seq[List[Int]] =
    (0 until count).map(i => listGen.apply(Gen.Parameters.default, Seed(42L + i)).getOrElse(Nil))

  test("|A UNION ALL B| = |A| + |B| and |A EXCEPT ALL B| = |A| - |A ∩all B|") {
    samples(8).grouped(2).foreach { case Seq(xs, ys) =>
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      assert(a.unionAll(b).count() === xs.size + ys.size)
      assert(a.exceptAll(b).count() === xs.size - a.intersectAll(b).count())
    }
  }

  test("UNION distinct cardinality = |distinct(A ∪ B)|") {
    samples(8).grouped(2).foreach { case Seq(xs, ys) =>
      val n = xs.toDF("v").union(ys.toDF("v")).distinct().count()
      assert(n === (xs.toSet ++ ys.toSet).size)
    }
  }

  test("three-valued logic: NULL comparisons drop rows from both filter and its negation") {
    val df = Seq[(Integer, Integer)]((1, 10), (2, null), (3, 30)).toDF("k", "v")
    val gt = df.filter($"v" > 15).count()
    val le = df.filter($"v" <= 15).count()
    assert(gt + le === 2) // the NULL row is in neither
    assert(df.filter($"v".isNull).count() === 1)
  }

  test("count ignores nulls; count(*) does not") {
    val df = Seq[Integer](1, null, 3, null).toDF("v")
    val r = df.selectExpr("count(v) AS c", "count(*) AS n").head()
    assert(r.getLong(0) === 2 && r.getLong(1) === 4)
  }

  test("Spark-only string functions DuckDB 1.0 lacks (spec-covered, not oracled)") {
    val r = spark.sql(
      "SELECT initcap('hello world'), overlay('hello' PLACING 'XX' FROM 2 FOR 2), " +
        "find_in_set('b', 'a,b,c'), substring_index('a.b.c', '.', 2), " +
        "nanvl(CAST('NaN' AS DOUBLE), 0.0), isnan(CAST('NaN' AS DOUBLE))").head()
    assert(r.getString(0) === "Hello World")
    assert(r.getString(1) === "hXXlo")
    assert(r.getInt(2) === 2)
    assert(r.getString(3) === "a.b")
    assert(r.getDouble(4) === 0.0)
    assert(r.getBoolean(5))
  }

  test("GROUPS-frame rewrite (dense_rank-keyed RANGE) matches brute-force peer-group evaluation") {
    // random partitions with heavy order-key ties so frames genuinely
    // span multi-row peer groups (the regime GROUPS differs from ROWS)
    val rows = (0 until 120).map { i =>
      val g = Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 9), Gen.chooseNum(1, 100))
      val (p, k, v) = g.apply(Gen.Parameters.default, Seed(7L * i + 1)).get
      (i, p, k, v.toLong)
    }
    val df = rows.toDF("id", "p", "k", "v")
    df.createOrReplaceTempView("groups_law")
    // the q_window_groups_frame rewrite: GROUPS BETWEEN 1 PRECEDING AND
    // 1 FOLLOWING ≡ RANGE 1 PRECEDING..1 FOLLOWING over dense_rank(k)
    val got = spark.sql("""
      WITH b AS (SELECT id, p, k, v,
                   dense_rank() OVER (PARTITION BY p ORDER BY k) AS dr
                 FROM groups_law)
      SELECT id,
             count(*) OVER (PARTITION BY p ORDER BY dr
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS n_nbr,
             sum(v) OVER (PARTITION BY p ORDER BY dr
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s_nbr,
             sum(v) OVER (PARTITION BY p ORDER BY dr
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum
      FROM b""").collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // brute force: enumerate peer groups per partition, frame = groups
    // [g-1, g+1] (clamped), cumulative = groups [0, g]
    rows.groupBy(_._2).foreach { case (_, part) =>
      val keys = part.map(_._3).distinct.sorted
      val groupOf = keys.zipWithIndex.toMap
      part.foreach { case (id, _, k, _) =>
        val g = groupOf(k)
        val nbr = part.filter(r => math.abs(groupOf(r._3) - g) <= 1)
        val cum = part.filter(r => groupOf(r._3) <= g)
        assert(got(id) === ((nbr.size.toLong, nbr.map(_._4).sum, cum.map(_._4).sum)), s"id=$id")
      }
    }
  }

  test("union of hash-partitioned shards is row-equivalent to the source") {
    samples(4).foreach { xs =>
      val df = xs.toDF("v")
      val shards = (0 until 3).map(i => df.filter(pmod($"v", lit(3)) === i))
      val u = graft.engine.Federation.unionShards(shards)
      assert(u.collect().map(_.getInt(0)).sorted.toSeq === xs.sorted)
    }
  }

  test("batched BPE with batch=1 induces EXACTLY the sequential merge table " +
      "(generated corpora), and any batch keeps segmentation lossless") {
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.functions.{col, explode, length, split}
    val wordGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    for (round <- 0 until 3) {
      val words = (0 until 24).map(i =>
        wordGen.apply(Gen.Parameters.default, Seed(round * 7000L + i)).getOrElse("a"))
      val docs = words.grouped(6).zipWithIndex
        .map { case (ws, i) => (i.toLong, "en", ws.mkString(" ")) }
        .toSeq.toDF("doc_id", "lang", "text")
      val seq8 = TextAnalysis.bpeMerges(docs, nMerges = 8)
      // the law: batch = 1 degenerates to the global argmax per round
      assert(TextAnalysis.bpeMergesBatched(docs, nMerges = 8, batch = 1) === seq8)
      // any batch: the table is well-formed (no within-batch symbol
      // sharing could have produced an unspeakable pair) and the
      // segmentation under it stays lossless
      val batched = TextAnalysis.bpeMergesBatched(docs, nMerges = 8, batch = 3)
      assert(batched.size <= 8)
      val segs = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .select(col("w"), TextAnalysis.bpePieces(col("w"), batched).as("p"))
        .collect()
      segs.foreach { r =>
        assert(r.getSeq[String](1).mkString("") === r.getString(0))
      }
    }
  }

  /** Deterministic synthetic corpus: `nTokens` one-word docs drawn
    * from a 4,096-word vocabulary. Words are the 6 base-20 digits
    * (chars 'a'..'t') of a multiplicative scramble of the word id —
    * without the scramble every head word carries the same zero-
    * digit padding and all top pairs collide on one hot symbol,
    * which degenerates batching; scrambled digits share substrings
    * the way real orthography does instead. Skew: 3 of 4 tokens draw
    * from the 256-word head, the rest from the full vocabulary.
    */
  private def syntheticCorpus(nTokens: Long): DataFrame =
    spark.range(0, nTokens).select(
      col("id").as("doc_id"),
      lit("en").as("lang"),
      expr("""
        concat_ws('', transform(sequence(0, 5), k -> chr(97 +
          CAST((pmod(CASE WHEN pmod(hash(id), 4) = 0
                     THEN pmod(hash(id * 31 + 7), 4096)
                     ELSE pmod(hash(id * 31 + 7), 256) END * 2654435761, 64000000)
                div CAST(pow(20, k) AS BIGINT)) % 20 AS BIGINT))))""").as("text"))

  test("batched BPE at the production regime: 256 merges / batch 32 round-count law") {
    import graft.pipeline.TextAnalysis
    // the regime the operator exists for (r17 verdict #4): the
    // driver fixture tops out at ~107 learnable merges, so the
    // corpus is a synthetic 4,096-word vocabulary
    val docs = syntheticCorpus(200000L)
    val (merges, rounds) = TextAnalysis.bpeMergesBatchedStats(docs, nMerges = 256, batch = 32)
    assert(merges.size === 256, "vocabulary must support the full 256 merges")
    assert(merges.distinct.size === 256)
    // the law: rounds = ceil(nMerges/batch) + a short warmup. The
    // floor is 8; the warmup is structural, not a defect — every
    // taken pair consumes at least one distinct symbol (self-pairs
    // like (a,a) consume one, others two), so a fresh A-symbol
    // alphabet caps round 1 at A = 20 picks and in practice far
    // fewer; the batch only fills once merges grow the symbol
    // inventory (which grows by `taken` per round, so the shortfall
    // decays geometrically). 16 = 2x the floor bounds it with slack.
    assert(rounds.size >= 8 && rounds.size <= 16,
      s"rounds=${rounds.size}, profile=${rounds.map(_.taken)}")
    assert(rounds.map(_.taken).sum === 256)
    assert(rounds.forall(r => r.taken >= 1 && r.taken <= 32))
    assert(rounds.head.taken <= 20, // the alphabet-ceiling pin
      s"round 1 took ${rounds.head.taken} > the 20-symbol alphabet admits")
    assert(rounds.map(_.taken).max === 32, "the batch never fills — warmup is not decaying")
  }

  test("batched BPE induction runs ~nMerges/batch counting rounds: job-count evidence") {
    import graft.pipeline.TextAnalysis
    // a corpus rich enough in distinct non-conflicting pairs that
    // every batch fills (disjoint alphabets per word)
    val words = Seq("abab", "cdcd", "efef", "ghgh", "ijij", "klkl",
      "mnmn", "opop", "qrqr", "stst")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, "en", (w + " ") * 3) }
      .toDF("doc_id", "lang", "text")
    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      // the listener bus is async; a short drain keeps the counts
      // complete (both measurements share any residual bias anyway)
      try { body; Thread.sleep(1000) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val seqJobs = countJobs { TextAnalysis.bpeMerges(docs, nMerges = 8); () }
    val batJobs = countJobs { TextAnalysis.bpeMergesBatched(docs, nMerges = 8, batch = 4); () }
    // 8 argmax rounds vs 2 candidate rounds (+ shared constant setup):
    // the batched job count must be well under half the sequential one
    assert(batJobs * 2 < seqJobs,
      s"batched induction not amortizing jobs: batched=$batJobs sequential=$seqJobs")
  }

  test("PII scrub laws over generated texts: redaction is idempotent, counts are space-additive") {
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.functions.{col, sum}
    // generator biased to produce real matches and near-misses:
    // fragments from a PII-ish alphabet stitched with spaces
    val frag = Gen.oneOf(
      "a@b.cd", "x.y@example.com", "nodomain@", "@nolocal.com", "a@b",
      "1.2.3.4", "10.255.0.7", "1.2.3", "1..2", "999.999.999.999",
      "555-123-4567", "555-12-4567", "123-456-78901", "-123-456-7890",
      "plain", "words", "a.b", "42", "", "x@y.zw 1.1.1.1")
    val textGen = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, frag).map(_.mkString(" ")))
    val texts = (0 until 60).map(i =>
      textGen.apply(Gen.Parameters.default, Seed(777L + i)).getOrElse(""))
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = TextAnalysis.piiScrub(d).select(col("doc_id"),
      col("n_emails"), col("n_ips"), col("n_phones"), col("redacted"))
    // idempotence: the class tokens contain no pattern characters, so
    // a second scrub finds nothing and changes nothing
    val twice = TextAnalysis.piiScrub(once.select(col("doc_id"),
        col("redacted").as("text")), "text")
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"), col("redacted"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val first = once.collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    twice.foreach { case (id, (ne, ni, np, red)) =>
      assert(ne === 0L && ni === 0L && np === 0L, s"doc $id rescrub found matches")
      assert(red === first(id), s"doc $id rescrub changed text")
    }
    // space-additivity: no pattern matches a space, so a match can't
    // span a ' ' boundary and counts over t1 || ' ' || t2 add exactly
    val pairs = texts.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val single = TextAnalysis.piiScrub(
        pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a + " " + b) }
          .toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"), r.getAs[Long]("n_phones")))).toMap
    val parts = TextAnalysis.piiScrub(
        pairs.zipWithIndex.flatMap { case ((a, b), i) =>
          Seq((i.toLong, 0, a), (i.toLong, 1, b)) }
          .toDF("doc_id", "half", "text"))
      .groupBy("doc_id")
      .agg(sum("n_emails").as("e"), sum("n_ips").as("i"), sum("n_phones").as("p"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    pairs.indices.foreach { i =>
      assert(single(i.toLong) === parts(i.toLong), s"pair $i not additive")
    }
  }

  test("BPE segmentation is lossless under any induced merge table (generated corpora)") {
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.functions.col
    // small alphabet so merges actually fire; words up to 12 chars
    val wordGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    for (round <- 0 until 4) {
      val words = (0 until 30).map(i =>
        wordGen.apply(Gen.Parameters.default, Seed(round * 1000L + i)).getOrElse("a"))
      val docs = words.grouped(5).zipWithIndex
        .map { case (ws, i) => (i.toLong, "en", ws.mkString(" ")) }
        .toSeq.toDF("doc_id", "lang", "text")
      val merges = TextAnalysis.bpeMerges(docs, nMerges = 6)
      // the law: pieces concatenate back to the word — no characters
      // created, dropped, or reordered by any replace in the chain —
      // and every piece is nonempty
      val segs = docs
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
        .filter(org.apache.spark.sql.functions.length(col("w")) > 0)
        .distinct()
        .select(col("w"), TextAnalysis.bpePieces(col("w"), merges).as("p"))
        .collect()
      segs.foreach { r =>
        val w = r.getString(0)
        val pieces = r.getSeq[String](1)
        assert(pieces.mkString("") === w, s"lossy segmentation of '$w': $pieces")
        assert(pieces.forall(_.nonEmpty))
      }
    }
  }

  test("NB scoring law: the HOF fold equals the brute-force argmin on seeded random models") {
    import graft.pipeline.TextAnalysis
    val wordGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val costGen = Gen.chooseNum(1L, 5000000L)
    for (round <- 0 until 6) {
      def g[T](gen: Gen[T], i: Int): T =
        gen.apply(Gen.Parameters.default, Seed(round * 10000L + i)).get
      val classes = Vector("c1", "c2", "c3").take(2 + round % 2)
      val vocab = (0 until 8).map(i => g(wordGen, i)).distinct.toVector
      val model = TextAnalysis.NbModel(
        classes,
        classes.indices.map(i => g(costGen, 100 + i)).toVector,
        vocab.map(w => w -> classes.indices.map(i =>
          g(costGen, 200 + vocab.indexOf(w) * 10 + i)).toVector).toMap,
        classes.indices.map(i => g(costGen, 900 + i)).toVector)
      val docs = (0 until 12).map { d =>
        (d.toLong, (0 until 1 + d % 5).map(t => g(wordGen, 1000 + d * 10 + t)).mkString(" "))
      }
      val got = TextAnalysis.nbScore(docs.toDF("doc_id", "text"), model)
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("predicted"),
          r.getAs[Long]("nb_cost_unats"), r.getAs[Long]("margin_unats")))
      // driver-side brute force over the same definition
      val want = docs.map { case (id, text) =>
        val toks = text.split(' ').filter(_.nonEmpty)
        val totals = classes.indices.map(i => model.priors(i) +
          toks.map(w => model.vocabCosts.get(w).map(_(i)).getOrElse(model.oovCosts(i))).sum)
        val best = totals.zipWithIndex.minBy { case (v, i) => (v, i) }
        val sorted = totals.sorted
        (id, classes(best._2), best._1, sorted(1) - sorted(0))
      }
      assert(got.toSeq === want, s"round $round model=$model docs=$docs")
    }
  }
}
