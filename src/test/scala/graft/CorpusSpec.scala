package graft

import graft.ops.{Analytics, Corpus, Text}
import java.nio.file.Files
import org.scalatest.matchers.should.Matchers

/** Crafted-input semantics for the round-5 corpus/analytics operators —
  * the edges the synthetic driver corpus never hits: the bigram
  * size≥2 guard, the heavy-hitter STRICT threshold, median
  * interpolation + mode tie-break, and the generator's per-row fanout.
  * Each test writes a minimal table into a temp dir shaped like the
  * driver testdata (Tables reads `$dir/<name>.parquet`). */
class CorpusSpec extends SparkSuite with Matchers {

  private def tmpTables(name: String)(write: String => Unit): String = {
    val dir = Files.createTempDirectory(s"graft_$name").toString
    write(dir); dir
  }

  test("batch drift: identical distribution -> zero KL; novel tokens -> new-type count, mass, positive KL") {
    import spark.implicits._
    val dir = tmpTables("drift") { d =>
      Seq(
        // source A: batch (doc_id 3: 3%7=3) token-identical to standing
        // — Laplace smoothing preserves equal ratios, so KL is EXACTLY 0
        (0L, "a b c", "srcA"), (1L, "a b c", "srcA"),
        (2L, "a b c", "srcA"), (3L, "a b c", "srcA"),
        // source B: standing {x,y}, batch (doc_id 10: 10%7=3) "x z z"
        // — z is novel: 1 new type carrying 2/3 of the batch mass
        (7L, "x y", "srcB"), (8L, "x y", "srcB"), (10L, "x z z", "srcB"),
      ).toDF("doc_id", "text", "source")
        .write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qBatchDrift(spark, dir).collect()
    rows.map(_.getString(0)) shouldBe Array("srcA", "srcB")

    val a = rows(0)
    a.getLong(1) shouldBe 3L      // n_batch_tokens
    a.getLong(2) shouldBe 0L      // n_new_types
    a.getDouble(3) shouldBe 0.0   // new_mass
    a.getDouble(4) shouldBe 0.0   // kl_nats: p=q=1/3 per token under smoothing

    val b = rows(1)
    b.getLong(1) shouldBe 3L
    b.getLong(2) shouldBe 1L           // z unseen in standing
    b.getDouble(3) shouldBe 0.666667   // round(2/3, 6)
    // standing counts x:2, y:2 (ns=4), V=3:
    // p(x)=1/3 vs q(x)=(2+1)/(4+3); p(z)=2/3 vs q(z)=(0+1)/(4+3)
    val expected = (1.0 / 3) * math.log((1.0 / 3) / (3.0 / 7)) +
      (2.0 / 3) * math.log((2.0 / 3) / (1.0 / 7))
    b.getDouble(4) shouldBe (math.rint(expected * 1e6) / 1e6) +- 1e-9
    b.getDouble(4) should be > 0.0
  }

  test("bpe train: round 2's winner is a pair that only exists after round 1's merge") {
    import spark.implicits._
    // vocab: xyz ×12, xyq ×5, ab ×3. Round 1 counts (x,y)=17,
    // (y,z)=12, (y,q)=5, (a,b)=3 → merges xy. Round 2's candidate
    // table now contains (xy,z)=12 and (xy,q)=5 — pairs that DID NOT
    // EXIST before round 1 applied — and (y,z)/(y,q) are gone. A
    // non-iterative implementation (round 1's table re-ranked) would
    // emit (y,z) here instead. Rounds 3-4 drain the rest; rounds 5-6
    // are dry (every word fully merged) and must emit nothing.
    val dir = tmpTables("bpe") { d =>
      val docs =
        Seq.fill(12)("xyz") ++ Seq.fill(5)("xyq") ++ Seq.fill(3)("ab")
      docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "s0") }
        .toDF("doc_id", "text", "source")
        .write.parquet(s"$d/documents.parquet")
    }
    val got = graft.ops.Text.qBpeTrain(spark, dir)
      .select($"round", $"a", $"b", $"merged", $"freq")
      .as[(Int, String, String, String, Long)].collect().toSeq
    got shouldBe Seq(
      (1, "x", "y", "xy", 17L),
      (2, "xy", "z", "xyz", 12L),
      (3, "xy", "q", "xyq", 5L),
      (4, "a", "b", "ab", 3L))
    // the apply side: four merges fully fuse every word, so the
    // trained tokenizer emits exactly one subtoken per word occurrence
    graft.ops.Text.qBpeApply(spark, dir)
      .select($"source", $"n_docs", $"n_words", $"n_subtokens")
      .as[(String, Long, Long, Long)].collect().toSeq shouldBe
      Seq(("s0", 20L, 20L, 20L))
  }

  test("bpe train: adjacent runs merge greedily left-to-right (aaaa -> aa aa, aaa -> aa a)") {
    import spark.implicits._
    // the double-space encoding's reason to exist: adjacent
    // occurrences of the winning pair must merge like canonical
    // greedy BPE, not skip every other occurrence (the naive
    // single-space replace bug). "aaaa" ×4 and "aaa" ×3:
    // round 1 counts (a,a) = 4·3 + 3·2 = 18 → merge aa; GREEDY
    // left-to-right gives "aaaa" → [aa, aa] and "aaa" → [aa, a], so
    // round 2 sees (aa,aa)=4 and (aa,a)=3 — a skip-every-other bug
    // would leave "aaaa" as [aa, a, a] and emit (aa,a)=7 instead.
    // Rounds 4-6 are dry (all words fully merged) and emit nothing.
    val dir = tmpTables("bperun") { d =>
      (Seq.fill(4)("aaaa") ++ Seq.fill(3)("aaa")).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
    }
    val got = graft.ops.Text.qBpeTrain(spark, dir)
      .select($"round", $"a", $"b", $"freq")
      .as[(Int, String, String, Long)].collect().toSeq
    got shouldBe Seq(
      (1, "a", "a", 18L),
      (2, "aa", "aa", 4L),
      (3, "aa", "a", 3L))
  }

  test("bigrams: single-token docs contribute nothing (sequence(1,0) guard)") {
    import spark.implicits._
    val dir = tmpTables("bigram") { d =>
      Seq((1L, "a b c"), (2L, "single"), (3L, "x x x x"))
        .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qBigramFreq(spark, dir)
      .as[(String, Long)].collect().toSeq
    // "single" must produce no bigram; Spark's sequence(1, 0) would
    // have emitted a DESCENDING [1,0] and crashed element_at(t, 0)
    rows shouldBe Seq(("x x", 3L), ("a b", 1L), ("b c", 1L))
  }

  test("heavy hitters: the threshold is strictly above 0.1%") {
    import spark.implicits._
    // exactly 1000 tokens: "hot" twice (0.2% — in), "edge" once
    // (cnt*1000 == total — OUT: the comparison is strict)
    val fillers = (1 to 997).map(i => s"t$i")
    val text = (fillers ++ Seq("hot", "hot", "edge")).mkString(" ")
    val dir = tmpTables("hh") { d =>
      // source column: part of the documents schema contract (the
      // shared docTermFreq table carries it since r15)
      Seq((1L, "s0", text)).toDF("doc_id", "source", "text")
        .write.parquet(s"$d/documents.parquet")
    }
    Corpus.qHeavyHitters(spark, dir)
      .as[(String, Long)].collect().toSeq shouldBe Seq(("hot", 2L))
  }

  test("part share: a part exactly AT 1.25×mean is excluded (strict integer gate)") {
    import spark.implicits._
    // revenues {150, 90}: mean 120, threshold 150 — the 150 part sits
    // EXACTLY on the boundary, and 4·r4·n > 5·Σr4 is strict, so the
    // result is empty; no double arithmetic can nudge it in or out
    val dir = tmpTables("pshare") { d =>
      Seq((1L, 150.0, 0.0), (2L, 90.0, 0.0))
        .toDF("l_partkey", "l_extendedprice", "l_discount")
        .write.parquet(s"$d/lineitem.parquet")
    }
    Analytics.qPartShare(spark, dir).count() shouldBe 0L
    // positive control: {200, 90} → mean 145, threshold 181.25 → one row
    val dir2 = tmpTables("pshare2") { d =>
      Seq((1L, 200.0, 0.0), (2L, 90.0, 0.0))
        .toDF("l_partkey", "l_extendedprice", "l_discount")
        .write.parquet(s"$d/lineitem.parquet")
    }
    Analytics.qPartShare(spark, dir2)
      .as[(Long, Double)].collect().toSeq shouldBe Seq((1L, 200.0))
  }

  test("top supplier: an exact revenue tie emits BOTH winners") {
    import spark.implicits._
    val q1 = java.sql.Timestamp.valueOf("1996-02-01 00:00:00")
    val dir = tmpTables("topsup") { d =>
      Seq((1L, 100.0, 0.0, q1), (2L, 100.0, 0.0, q1), (3L, 50.0, 0.0, q1))
        .toDF("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
        .write.parquet(s"$d/lineitem.parquet")
      Seq((1L, "sa"), (2L, "sb"), (3L, "sc"))
        .toDF("s_suppkey", "s_name")
        .write.parquet(s"$d/supplier.parquet")
    }
    // the argmax runs on the exact integer aggregate, so two suppliers
    // with identical revenue are BOTH the max — a double-sum argmax
    // could have split them by fold noise
    Analytics.qTopSupplier(spark, dir)
      .as[(Long, String, Double)].collect().toSeq shouldBe
      Seq((1L, "sa", 100.0), (2L, "sb", 100.0))
  }

  test("budget sample: largest-remainder quotas sum exactly to the budget") {
    import spark.implicits._
    // 120 docs: src0=70, src1=30, src2=20. Floors of 100·n_s/120 are
    // 58/25/16 (sum 99); remainders 40/0/80 → the one leftover seat
    // goes to src2 → quotas 58/25/17, total exactly 100
    val rows = (1 to 70).map(i => (i.toLong, "src0")) ++
      (71 to 100).map(i => (i.toLong, "src1")) ++
      (101 to 120).map(i => (i.toLong, "src2"))
    val dir = tmpTables("budget") { d =>
      rows.toDF("doc_id", "source").write.parquet(s"$d/documents.parquet")
    }
    val got = Corpus.qBudgetSample(spark, dir)
      .groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    got shouldBe Map("src0" -> 58L, "src1" -> 25L, "src2" -> 17L)
  }

  test("budget sample: a corpus smaller than the budget under-fills, never errors") {
    import spark.implicits._
    // N=6 < B=100: every quota exceeds its source's capacity, the
    // rk <= quota filter caps at capacity, and ALL docs come back —
    // the documented small-corpus contract (exact-B needs B ≤ N/2)
    val dir = tmpTables("budget_small") { d =>
      Seq((1L, "s0"), (2L, "s0"), (3L, "s0"), (4L, "s1"), (5L, "s1"), (6L, "s1"))
        .toDF("doc_id", "source").write.parquet(s"$d/documents.parquet")
    }
    Corpus.qBudgetSample(spark, dir)
      .select($"doc_id").as[Long].collect().toSeq shouldBe (1L to 6L)
  }

  test("memo caches: switching data dirs evicts the previous dir's entries") {
    import spark.implicits._
    val d1 = tmpTables("memo1") { d =>
      Seq((1L, "a b")).toDF("doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
    }
    val d2 = tmpTables("memo2") { d =>
      Seq((2L, "c d")).toDF("doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
    }
    Text.clearMemoCaches()
    Text.queries("q_minhash_sig")(spark, d1)
    Text.memoizedDirs(spark) shouldBe Set(d1)
    // same session, new dir: the old dir's plans (and their strong
    // refs to checkpoint blocks) must be gone, not accumulated
    Text.queries("q_minhash_sig")(spark, d2)
    Text.memoizedDirs(spark) shouldBe Set(d2)
    Text.clearMemoCaches()
  }

  // GraftSession sizes the JVM-wide codegen class cache to the
  // engine's working set: a re-run of the same plan shapes (the next
  // Bench pass, the next CDC tick) must hit the cache, not Janino
  test("codegen cache: a repeated CC query and a repeated ingest tick compile nothing") {
    import spark.implicits._
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    def clusterSizes() = SparkEntry.queries("q_cluster_sizes")(spark, sf).collect().toSeq
    Text.clearMemoCaches()
    val first = clusterSizes()
    Text.clearMemoCaches()
    val beforeRerun = compiles
    clusterSizes() shouldBe first
    (compiles - beforeRerun) shouldBe 0L
    Text.clearMemoCaches()

    val idxDir = Files.createTempDirectory("graft_codegen").resolve("idx").toString
    Text.bandProject(Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"))
      .write.parquet(idxDir)
    def tick(id: Long, docs: Seq[(Long, String)]) =
      Text.ingestTick(spark, idxDir, docs.toDF("doc_id", "text"), id).collect()
    tick(1L, Seq((9L, "foo bar baz quux"), (29L, "alpha  beta gamma delta")))
    val beforeTick = compiles
    tick(2L, Seq((10L, "lorem ipsum dolor sit"), (30L, "foo  bar baz quux")))
    (compiles - beforeTick) shouldBe 0L
  }

  test("split leakage: held-out docs flag iff they share an 8-gram with train") {
    import spark.implicits._
    // sha-256 u16 split of small ids: 1→train, 2→val, 5→test, 20→test
    // (fixed by the hash, engine-independent). Doc 2 shares the
    // 8-gram "a b c d e f g h" with train doc 1; doc 5 shares
    // nothing; doc 20 is under 8 tokens and must not appear at all.
    val dir = tmpTables("leak") { d =>
      Seq(
        (1L, "a b c d e f g h x"),
        (2L, "a b c d e f g h q q q"),
        (5L, "z1 z2 z3 z4 z5 z6 z7 z8"),
        (20L, "tiny doc"))
        .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qSplitLeakage(spark, dir)
      .as[(Long, String, Long, Long, Int)].collect().toSeq
    rows shouldBe Seq(
      (2L, "val", 4L, 1L, 1),
      (5L, "test", 1L, 0L, 0))
  }

  test("median interpolates the middle pair; mode ties break to the smaller value") {
    import spark.implicits._
    val dir = tmpTables("medmode") { d =>
      Seq(("A", 1.0), ("A", 2.0), ("A", 2.0), ("A", 9.0),
        ("B", 1.0), ("B", 1.0), ("B", 2.0), ("B", 2.0))
        .toDF("l_returnflag", "l_quantity")
        .write.parquet(s"$d/lineitem.parquet")
    }
    val rows = Analytics.qMedianMode(spark, dir)
      .as[(String, Double, Double, Long)].collect().toSeq
    rows shouldBe Seq(
      ("A", 2.0, 2.0, 2L),  // median of {1,2,2,9} = 2; mode 2 (count 2)
      ("B", 1.5, 1.0, 2L))  // even-count interpolation; 1 and 2 tie → 1
  }

  test("tf-idf: corpus-wide terms weigh zero, rare terms ln(N/df)") {
    import spark.implicits._
    val dir = tmpTables("tfidf") { d =>
      // source column: part of the documents schema contract (the
      // shared docTermFreq table carries it since r15)
      Seq((1L, "s0", "common common rare rare"),
        (2L, "s0", "common common"), (3L, "s0", "common common"))
        .toDF("doc_id", "source", "text")
        .write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qTfidf(spark, dir)
      .as[(Long, String, Long, Double)].collect()
      .map { case (id, t, tf, w) => (id, t, tf, w) }.toSeq
    // df(common)=3 of N=3 → idf=0; df(rare)=1 → 2·ln(3)=2.197225
    rows shouldBe Seq(
      (1L, "common", 2L, 0.0), (1L, "rare", 2L, 2.197225),
      (2L, "common", 2L, 0.0), (3L, "common", 2L, 0.0))
  }

  test("dedup clusters: every component member gets the min doc_id label") {
    import spark.implicits._
    // identical texts → identical 63-bit signatures → hamming-0 pairs;
    // doc 30 has no near-dup, so it is absent from the pair graph
    val dir = tmpTables("clusters") { d =>
      Seq((10L, "alpha beta gamma"), (11L, "alpha beta gamma"),
        (12L, "alpha beta gamma"),
        (20L, "delta epsilon zeta"), (21L, "delta epsilon zeta"),
        (30L, "unique snowflake document"))
        .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    }
    graft.ops.Text.qDedupClusters(spark, dir)
      .as[(Long, Long)].collect().toSeq shouldBe
      Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
  }

  test("sequence packing: chunk boundaries fall at exact token-budget multiples") {
    import spark.implicits._
    // Four docs in one source stream: 500 + 12 tokens crosses the 512
    // boundary exactly at doc 3 (seq_off 0 of seq 1); doc 4 lands
    // mid-sequence. A second source packs independently from offset 0.
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = tmpTables("pack") { d =>
      Seq((1L, words(500), "a"), (2L, words(12), "a"),
        (3L, words(100), "a"), (4L, words(50), "a"),
        (9L, words(7), "b"))
        .toDF("doc_id", "text", "source")
        .write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qPackSequences(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    rows shouldBe Seq(
      (1L, "a", 500L, 0L, 0L),
      (2L, "a", 12L, 0L, 500L),   // 500+12 = 512: fills seq 0 exactly
      (3L, "a", 100L, 1L, 0L),    // starts at 512 → seq 1, offset 0
      (4L, "a", 50L, 1L, 100L),
      (9L, "b", 7L, 0L, 0L))      // source b packs from scratch
  }

  test("contamination: only docs sharing a full 8-gram with the benchmark flag") {
    import spark.implicits._
    val shared = "one two three four five six seven eight"
    val dir = tmpTables("contam") { d =>
      Seq(
        (10L, s"$shared tail tokens here"),         // benchmark (10 % 10 == 0)
        (11L, s"prefix $shared more"),              // hit: full 8-gram shared
        (12L, "one two three four five six seven"), // 7-gram only → no hit
        (13L, s"$shared"),                          // hit: exact benchmark text
        (14L, "totally different text with eight tokens padding pad"))
        .toDF("doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qContamination(spark, dir)
      .as[(Long, Long)].collect().toSeq
    rows shouldBe Seq((11L, 1L), (13L, 1L))
  }

  test("repetition: the 20% flag threshold is strict, looping text flags") {
    import spark.implicits._
    val dir = tmpTables("rep") { d =>
      Seq(
        // 12 tokens → 10 3-grams, 8 distinct (abc, bca twice) →
        // dup=2, 5·2 == 10 → ratio exactly 0.2 → NOT flagged (strict >)
        (1L, "a b c a b c a e f g h i"),
        // pure loop: 6 3-grams, 2 distinct → ratio 2/3 → flagged
        (2L, "x y x y x y x y"),
        (3L, "too short"))  // < 3 tokens → no row at all
        .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qRepetition(spark, dir)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    rows shouldBe Seq(
      (1L, 10L, 8L, 0.2, 0),
      (2L, 6L, 2L, 0.666667, 1))
  }

  test("ngram coverage: cross-doc 8-gram dup share; intra-doc repeats don't self-count") {
    import spark.implicits._
    val dir = tmpTables("cov") { d =>
      Seq(
        // 9 tokens → grams {a..h, b..i}; a..h shared with doc 2 → 1/2
        (1L, "a b c d e f g h i"),
        // grams {a..h (shared), b..z (unique)} → 1/2, flagged (>0.2)
        (2L, "a b c d e f g h z"),
        // unique gram only → share 0
        (3L, "p q r s t u v w"),
        // 9 tokens of "x": both positional grams identical →
        // array_distinct collapses to ONE gram, seen in no other doc —
        // intra-doc repetition must NOT count as cross-doc duplication
        (4L, "x x x x x x x x x"))
        .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qNgramCoverage(spark, dir)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    rows shouldBe Seq(
      (1L, 2L, 1L, 0.5, 1),
      (2L, 2L, 1L, 0.5, 1),
      (3L, 1L, 0L, 0.0, 0),
      (4L, 1L, 0L, 0.0, 0))
  }

  test("boilerplate: a segment shared by two docs is dropped from both; ragged tails survive") {
    import spark.implicits._
    // docs 1 and 2 share their first 8 tokens exactly (the boilerplate
    // header); each has a distinct tail shorter than 8 tokens — the
    // ragged final segment must be kept, not truncated away.
    val header = (1 to 8).map(i => s"h$i").mkString(" ")
    val dir = tmpTables("boiler") { d =>
      Seq((1L, s"$header tail one"), (2L, s"$header tail two"),
        (3L, "fully original text"))
        .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qBoilerplate(spark, dir)
      .as[(Long, Long, Long, String)].collect().toSeq
    rows shouldBe Seq(
      (1L, 2L, 1L, "tail one"),   // header segment dropped, ragged tail kept
      (2L, 2L, 1L, "tail two"),
      (3L, 1L, 1L, "fully original text"))
  }

  test("minhash estimate: identical docs collide with est 1.0; disjoint docs never pair") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"w$i").mkString(" ")
    val dir = tmpTables("mhest") { d =>
      Seq((1L, shared), (2L, shared),
        (3L, (1 to 20).map(i => s"z$i").mkString(" ")))
        .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    }
    val rows = graft.ops.Text.qMinhashEst(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    // identical token sets → identical signatures → same band, all 16
    // hashes agree; the disjoint doc shares no band with either
    rows shouldBe Seq((1L, 2L, 1.0))
  }

  test("split assign: growth-stable — adding docs never moves existing ones") {
    import spark.implicits._
    def write(n: Int): String = tmpTables(s"split$n") { d =>
      (0L until n.toLong).map(i => (i, "en"))
        .toDF("doc_id", "lang").write.parquet(s"$d/documents.parquet")
    }
    val small = Corpus.qSplitAssign(spark, write(100))
      .as[(Long, String, String)].collect().toMap2
    val grown = Corpus.qSplitAssign(spark, write(300))
      .as[(Long, String, String)].collect().toMap2
    small.keys.foreach { id => grown(id) shouldBe small(id) }
    // all three splits actually occur, roughly 80/10/10
    val counts = grown.values.groupBy(identity).view.mapValues(_.size).toMap
    counts("train") should be > counts("val")
    counts("train") should be > counts("test")
    counts.keySet shouldBe Set("train", "val", "test")
  }

  private implicit class Tup3Ops(rows: Array[(Long, String, String)]) {
    def toMap2: Map[Long, String] = rows.map(r => r._1 -> r._3).toMap
  }

  test("vocab growth: per-source running vocabulary; no row for no-new-token docs") {
    import spark.implicits._
    val dir = tmpTables("vocab") { d =>
      Seq(
        (1L, "a b", "s1"), (2L, "b c", "s1"), (3L, "a c", "s1"),
        (4L, "z", "s2"))
        .toDF("doc_id", "text", "source")
        .write.parquet(s"$d/documents.parquet")
    }
    val rows = Corpus.qVocabGrowth(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    rows shouldBe Seq(
      ("s1", 1L, 2L, 2L),  // a, b new → vocab 2
      ("s1", 2L, 1L, 3L),  // c new → vocab 3; doc 3 introduces nothing
      ("s2", 4L, 1L, 1L))
  }

  test("sequence generator emits k rows per input row, 1-based") {
    import spark.implicits._
    val dir = tmpTables("seq") { d =>
      Seq(1L, 2L, 3L).toDF("o_orderkey")
        .write.parquet(s"$d/orders.parquet")
    }
    val rows = Analytics.qSequence(spark, dir)
      .as[(Long, Long)].collect().toSeq
    rows shouldBe Seq(
      (1L, 1L), (1L, 2L),                    // 1 % 5 + 1 = 2 rows
      (2L, 1L), (2L, 2L), (2L, 3L),          // 3 rows
      (3L, 1L), (3L, 2L), (3L, 3L), (3L, 4L)) // 4 rows
  }
}
