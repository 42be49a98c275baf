package graft

import graft.stream.RetryStateMachine
import graft.stream.RetryStateMachine.{Attempt, CaptureState}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Scalacheck properties (SURVEY.md §5.2(3)): pure invariants checked
  * over generated inputs. Native scalacheck Properties (sbt runs the
  * ScalaCheck framework directly; the scalatest bridge artifact is
  * not in the offline cache). */
object PropertySpec extends Properties("graft") {

  private val streamGen = Gen.nonEmptyListOf(Gen.alphaLowerChar)
    .map(_.take(12).mkString)
  private val qualGen: Gen[String] = Gen.oneOf(Gen.const("audio_only"),
    Gen.choose(144, 2160).map(_ + "p"))

  property("filename format∘parse = id (P1/P2/P8, convert.sh:38-42)") =
    forAll(streamGen, qualGen,
      Gen.choose(0, 99)) { (stream: String, qual: String, retry: Int) =>
      val name = s"${stream}_${qual}_2024-01-02T03:04:05_$retry.mkv"
      EtlPipeline.FilenamePattern.r.findFirstMatchIn(name) match {
        case Some(m) =>
          (m.group(1) == stream) :| "stream" &&
            (m.group(2) == qual) :| "quality" &&
            (m.group(4).toInt == retry) :| "retry"
        case None => Prop.falsified :| s"no match for $name"
      }
    }

  property("state machine: retryId ≤ budget; abandon implies poll") =
    forAll(Gen.listOf(Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false))),
      Gen.choose(0, 5)) { (outcomes: List[(Boolean, Boolean)], retries: Int) =>
      var st: Option[CaptureState] = None
      outcomes.zipWithIndex.forall { case ((poll, data), i) =>
        val (ns, t) = RetryStateMachine.step(retries)(
          st, Attempt("s", i.toLong, poll, data))
        st = ns
        t.retryId <= retries &&
          (t.action != "abandon_poll" || poll) &&
          (t.action != "exhausted" || ns.isEmpty)
      }
    }

  // the decimation both stub kernels promise: byte i survives iff
  // i % stride == 0, in order
  private def decimated(arr: Array[Byte], stride: Int): Array[Byte] =
    arr.indices.filter(_ % stride == 0).map(arr(_)).toArray

  property("transcode stub: |out| = ceil(n/stride), deterministic") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 255).map(_.toByte)),
      Gen.oneOf(true, false),
      Gen.oneOf(Gen.choose(1e-4, 1.0), Gen.oneOf(1e-12, 0.0, 0.34, 0.5, 1.0))) {
      (bytes: List[Byte], audio: Boolean, ratio: Double) =>
      val arr = bytes.toArray
      val out = graft.media.Multimodal.transcodeStub(arr, audio)
      val stride = if (audio) 8 else 4
      // resizeStub decimates at stride round(1/areaRatio), at least 1
      val resizeStride = math.max(1, math.round(1.0 / math.max(ratio, 1e-9)).toInt)
      out.length == (arr.length + stride - 1) / stride &&
        java.util.Arrays.equals(out, decimated(arr, stride)) &&
        java.util.Arrays.equals(out,
          graft.media.Multimodal.transcodeStub(arr, audio)) &&
        java.util.Arrays.equals(graft.media.Multimodal.resizeStub(arr, ratio),
          decimated(arr, resizeStride))
    }

  // the claim q_bpe_train/q_bpe_apply's cross-engine correctness
  // rides on: applying a merge to the double-space symbol encoding
  // via ONE plain non-overlapping left-to-right substring replace
  // (Spark `replace`, DuckDB `replace`, java String.replace — same
  // semantics) equals canonical GREEDY BPE on the symbol sequence.
  // Symbols drawn from a 2-char alphabet at lengths 1-3 maximize the
  // hazards the encoding exists to rule out: adjacent runs sharing a
  // boundary ("aaaa"), and pairs whose symbols are prefixes/suffixes
  // of neighbors ("a" vs "ab" vs "ba").
  private val bpeSymGen: Gen[String] =
    Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))

  property("bpe: double-space encode ∘ replace = greedy merge") =
    forAll(Gen.nonEmptyListOf(bpeSymGen).map(_.take(12)),
      bpeSymGen, bpeSymGen) { (syms: List[String], a: String, b: String) =>
      def greedy(s: List[String]): List[String] = s match {
        case x :: y :: rest if x == a && y == b => (a + b) :: greedy(rest)
        case x :: rest => x :: greedy(rest)
        case Nil => Nil
      }
      val enc = syms.map("  " + _).mkString("") + "  "
      val merged = enc.replace(s" $a  $b ", s" $a$b ")
      val decoded = merged.trim.split(" +").toList
      (decoded == greedy(syms)) :|
        s"syms=$syms pair=($a,$b) decoded=$decoded expected=${greedy(syms)}"
    }

  property("minhash is order- and duplication-invariant") =
    forAll(Gen.nonEmptyListOf(Gen.alphaLowerStr.map(_.take(6)))) { toks =>
      def sig(ts: Seq[String]): String = ts.map(t =>
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(("0:" + t).getBytes("UTF-8")).map("%02x".format(_)).mkString).min
      val shuffled = scala.util.Random.shuffle(toks)
      sig(toks) == sig(shuffled ++ toks.take(1)) // dup + reorder → same min
    }
}

/** The §4.3 skew property: two-phase salted aggregation must be
  * value-equivalent to the direct groupBy on ANY input — generated
  * skew (one hot key dominating), any salt fanout. Separate Properties
  * object: each case runs two Spark jobs, so the test count is bounded
  * here without touching the pure properties above. */
object SkewPropertySpec extends Properties("graft.skew") {
  import graft.ops.Skew
  import org.apache.spark.sql.functions.{col, count, lit, sum}
  import org.scalacheck.Test

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val rowsGen: Gen[List[(String, Double, Long)]] = for {
    nHot <- Gen.choose(40, 120) // the straggler key
    nCold <- Gen.choose(0, 25)
    hotVals <- Gen.listOfN(nHot, Gen.choose(-1000.0, 1000.0))
    coldRows <- Gen.listOfN(nCold,
      Gen.zip(Gen.oneOf("k1", "k2", "k3"), Gen.choose(-1000.0, 1000.0)))
  } yield hotVals.zipWithIndex.map { case (v, i) => ("hot", v, i.toLong) } ++
    coldRows.zipWithIndex.map { case ((k, v), i) => (k, v, (10000 + i).toLong) }

  property("saltedAgg ≡ direct groupBy under generated skew, any fanout") =
    forAll(rowsGen, Gen.oneOf(1, 3, 16)) { (rows, salts) =>
      val spark = SparkSuite.session
      import spark.implicits._
      val df = rows.toDF("k", "v", "id")
      def norm(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getDouble(2))
      val direct = df.groupBy($"k")
        .agg(count(lit(1)).as("n"), sum($"v").as("s"))
        .collect().map(norm).sortBy(_._1)
      val salted = Skew.saltedAgg(df, "k", "v", "id", salts)
        .collect().map(norm).sortBy(_._1)
      salted.map(t => (t._1, t._2)).sameElements(direct.map(t => (t._1, t._2))) &&
        // double sums reassociate across salts — compare to relative 1e-9
        salted.zip(direct).forall { case (a, b) =>
          math.abs(a._3 - b._3) <= math.abs(b._3) * 1e-9 + 1e-12
        }
    }

  /** Integer-valued variant of [[rowsGen]]: the two-phase running
    * sum reassociates addition across ranges, which is exact for
    * longs (every production call site sums integer counts) but
    * ulp-shifts a double fold — the property pins the integer
    * contract against a PURE SCALA reference, independent of Spark's
    * own window machinery. */
  private val intRowsGen: Gen[List[(String, Long, Long)]] = for {
    nHot <- Gen.choose(40, 120)
    nCold <- Gen.choose(0, 25)
    hotVals <- Gen.listOfN(nHot, Gen.choose(-1000L, 1000L))
    coldRows <- Gen.listOfN(nCold,
      Gen.zip(Gen.oneOf("k1", "k2", "k3"), Gen.choose(-1000L, 1000L)))
  } yield hotVals.zipWithIndex.map { case (v, i) => ("hot", v, i.toLong) } ++
    coldRows.zipWithIndex.map { case ((k, v), i) => (k, v, (10000 + i).toLong) }

  property("scalableRank/Ntile/Cumsum ≡ in-memory reference, any shuffle width") =
    forAll(intRowsGen, Gen.oneOf(1, 3, 7)) { (rows, parts) =>
      val spark = SparkSuite.session
      import spark.implicits._
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val df = rows.toDF("k", "v", "id")
        val order = Seq($"v".desc, $"id".asc)
        val got = Skew.scalableNtile(
            Skew.scalableCumsum(
              Skew.scalableRank(df, Seq("k"), order, "rn", Some("tot")),
              Seq("k"), order, $"v", "cum"),
            Seq("k"), order, 3, "nt")
          .select($"k", $"id", $"rn", $"tot", $"cum", $"nt")
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))
          .toMap
        // reference: per-key sequential fold; ntile assigned by
        // WALKING the bucket-size list (q + 1 for the first n % 3
        // buckets), not by the helper's arithmetic formula
        val ref = rows.groupBy(_._1).iterator.flatMap { case (k, g) =>
          val sorted = g.sortBy(t => (-t._2, t._3))
          val n = sorted.size
          val ntiles = (0 until 3).flatMap(b =>
            Seq.fill(n / 3 + (if (b < n % 3) 1 else 0))(b + 1))
          val cums = sorted.scanLeft(0L)(_ + _._2).tail
          sorted.zipWithIndex.map { case ((_, _, id), i) =>
            (k, id) -> ((i + 1).toLong, n.toLong, cums(i), ntiles(i))
          }
        }.toMap
        (got == ref) :| s"parts=$parts got=${got.size} ref=${ref.size}"
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }

  property("saltedJoin ≡ plain equi join under generated skew, any fanout") =
    forAll(rowsGen, Gen.oneOf(1, 3, 16)) { (rows, salts) =>
      val spark = SparkSuite.session
      import spark.implicits._
      val fact = rows.toDF("k", "v", "id")
      val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "attr")
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select($"k", $"id", $"attr")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .sorted
      norm(Skew.saltedJoin(fact, dim, "k", "id", salts))
        .sameElements(norm(fact.join(dim, Seq("k"))))
    }
}

/** The dedup family's clustering kernel vs a reference union-find:
  * [[graft.ops.Text.connectedComponents]] (min-label propagation +
  * pointer jumping, distributed) must assign every node the minimum
  * id reachable from it on ANY multigraph — duplicate edges, both
  * orientations of the same edge, self-loops, non-contiguous ids,
  * chains (the worst case for propagation distance), and the empty
  * edge set (regression: the convergence aggregate's decimal sum is
  * null there; BigDecimal(null) NPE'd before the Option guard). The
  * crafted OpsSpec case pins a 20-hop chain; this property covers the
  * graph shapes nobody thought to craft. Separate Properties object:
  * each case runs a full multi-round fixpoint (several Spark jobs),
  * so the case count is bounded like graft.skew's. */
object CCPropertySpec extends Properties("graft.cc") {
  import graft.ops.Text
  import org.scalacheck.Test

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  // node ids up to 400 with gaps; 0-40 edges drawn with replacement
  // (dups + self-loops + reversed copies all legal), incl. the empty set
  private val graphGen: Gen[List[(Long, Long)]] = for {
    pool <- Gen.nonEmptyListOf(Gen.choose(0L, 400L)).map(_.distinct)
    n <- Gen.choose(0, 40)
    edges <- Gen.listOfN(n, Gen.zip(Gen.oneOf(pool), Gen.oneOf(pool)))
  } yield edges

  /** Min-root union-find: every union parents the larger root to the
    * smaller, so each component's representative is its min id. */
  private def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // snapshot the keys first: find's path compression writes to
    // `parent`, and mapping over the live key view while it changes
    // skips keys (a 23-node graph came back with 14 entries)
    parent.keys.toList.map(v => v -> find(v)).toMap
  }

  property("connectedComponents ≡ min-root union-find on random multigraphs") =
    forAll(graphGen) { edges =>
      val spark = SparkSuite.session
      import spark.implicits._
      val got = Text.connectedComponents(spark, edges.toDF("da", "db"))
        .as[(Long, Long)].collect().toMap
      got == unionFind(edges)
    }

  // null-endpoint injection (r14 NullKeySpec's randomized cousin):
  // interleaving null-endpoint edges anywhere in the pair set must
  // leave the fixpoint EXACTLY the clean graph's — the null edges are
  // ignored, never half-propagated into a phantom node or label
  private val nullEdgeGen: Gen[List[(Option[Long], Option[Long])]] = for {
    n <- Gen.choose(1, 6)
    mk <- Gen.listOfN(n, Gen.zip(
      Gen.option(Gen.choose(500L, 520L)), Gen.option(Gen.choose(500L, 520L))))
  } yield mk.map { case (a, b) => if (a.isDefined && b.isDefined) (None, b) else (a, b) }

  property("null-endpoint edges never change the fixpoint") =
    forAll(graphGen, nullEdgeGen) { (edges, nullEdges) =>
      val spark = SparkSuite.session
      import spark.implicits._
      val clean = edges.map { case (a, b) => (Option(a), Option(b)) }
      // deterministic interleave (edge order is immaterial to CC;
      // a seeded shuffle would only blur failure reproduction)
      val mixed = (clean ++ nullEdges).zipWithIndex
        .sortBy { case (_, i) => (i * 7919) % 104729 }.map(_._1)
      val got = Text.connectedComponents(spark, mixed.toDF("da", "db"))
        .as[(Long, Long)].collect().toMap
      got == unionFind(edges)
    }
}

/** The ingest-vet verdict lattice vs a plain-Scala reference:
  * [[graft.ops.Text.vetBatchIntra]] (two corpus-index probes + two
  * batch-keyed window mins + the precedence chain) must agree with
  * the lattice written out naively — corpus digest hit > corpus band
  * hit > earlier batch doc with the same digest > earlier batch doc
  * with the same band > keep, dup_of = the winning keeper — on
  * generated corpora/batches drawn from a text pool engineered so
  * every collision class actually occurs (exact copies share a
  * digest; spacing variants share a token stream — same band,
  * different digest). Hashes come from the production
  * [[graft.ops.Text.bandProject]] on both sides, so this pins the
  * LATTICE, not the hashing. Bounded like graft.skew (Spark jobs per
  * case). */
object VetLatticePropertySpec extends Properties("graft.vet") {
  import graft.ops.Text
  import org.scalacheck.Test

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val pool = Seq(
    "foo bar baz", "foo  bar baz", "foo bar  baz", // near-dup trio
    "alpha beta", "alpha  beta",                   // near-dup pair
    "unique one thing", "other text entirely")

  // distinct ids over a gappy domain, split corpus/batch (batch ≥ 1)
  private val caseGen: Gen[(List[(Long, String)], List[(Long, String)])] =
    for {
      nC <- Gen.choose(0, 6)
      nB <- Gen.choose(1, 6)
      ids <- Gen.listOfN(nC + nB, Gen.choose(0L, 500L)).map(_.distinct)
      txts <- Gen.listOfN(ids.size, Gen.oneOf(pool))
    } yield {
      val docs = ids.zip(txts)
      val (c, b) = docs.splitAt(math.min(nC, docs.size - 1))
      (c.toList, b.toList)
    }

  private def refVet(batch: Seq[(Long, String, String)],
                     dgIdx: Map[String, Long],
                     bandIdx: Map[String, Long]) = {
    val firstDg = batch.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).min }
    val firstBand = batch.groupBy(_._3).map { case (k, v) => k -> v.map(_._1).min }
    batch.map { case (id, dg, band) =>
      if (dgIdx.contains(dg)) (id, "drop_exact", Some(dgIdx(dg)))
      else if (bandIdx.contains(band)) (id, "drop_near", Some(bandIdx(band)))
      else if (firstDg(dg) < id) (id, "drop_batch_exact", Some(firstDg(dg)))
      else if (firstBand(band) < id) (id, "drop_batch_near", Some(firstBand(band)))
      else (id, "keep", None)
    }
  }

  property("vetBatchIntra ≡ the naive lattice on generated collisions") =
    forAll(caseGen) { case (corpus, batch) =>
      val spark = SparkSuite.session
      import spark.implicits._
      def sigsOf(docs: List[(Long, String)]): Seq[(Long, String, String)] =
        if (docs.isEmpty) Seq.empty
        else Text.bandProject(docs.toDF("doc_id", "text"))
          .as[(Long, String, String)].collect().toSeq
      val corpusSigs = sigsOf(corpus)
      val batchSigs = sigsOf(batch)
      val dgIdx = corpusSigs.groupBy(_._2)
        .map { case (k, v) => k -> v.map(_._1).min }
      val bandIdx = corpusSigs.groupBy(_._3)
        .map { case (k, v) => k -> v.map(_._1).min }
      val expected = refVet(batchSigs, dgIdx, bandIdx).sortBy(_._1)
      val got = Text.vetBatchIntra(
          batchSigs.toDF("doc_id", "dg", "band"),
          dgIdx.toSeq.toDF("dg", "exact_of"),
          bandIdx.toSeq.toDF("band", "near_of"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(_._1).toSeq
      got == expected
    }
}

/** The r15 estimator-sample join-key pushdown's soundness pin: the
  * factored per-side keys must select EXACTLY knuthSample's pairs
  * (sampledLshPairs/sampledMh20Pairs now key their band joins on
  * them). */
object KnuthSamplePropertySpec extends Properties("graft.knuth") {

  property("knuth pair sample ≡ its per-side equi-key factoring (mods 32/128)") =
    forAll(Gen.listOfN(24, Gen.zip(
        Gen.chooseNum(0L, Long.MaxValue / 2), Gen.chooseNum(0L, Long.MaxValue / 2))),
      Gen.oneOf(32, 128)) { (idPairs, mod) =>
      idPairs.isEmpty || {
        val spark = SparkSuite.session
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        // the r15 join-key pushdown is only sound if the factored
        // keys select EXACTLY knuthSample's pairs — including at ids
        // beyond the 2^31−1 fold where the mix wraps
        val df = idPairs.toDF("da", "db")
        val both = df.select(
          graft.ops.Text.knuthSample(col("da"), col("db"), mod).as("direct"),
          (graft.ops.Text.knuthAKey(col("da"), mod) ===
            graft.ops.Text.knuthBKey(col("db"), mod)).as("factored"))
          .collect()
        both.forall(r => r.getBoolean(0) == r.getBoolean(1))
      }
    }
}
