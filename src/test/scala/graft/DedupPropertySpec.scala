package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Property-based checks for the EXACT dedup operators over seeded
  * random corpora designed to stress the prefix-filter theorem:
  * tiny vocabularies (forced token collisions), skewed doc lengths
  * (size-filter boundaries), duplicates and near-duplicates
  * (identical-set collapse), whitespace-only and sub-n docs (empty
  * gram sets). Hand-rolled generator: deterministic under seed, no
  * extra deps. The probabilistic miners (minhash, simhash) are
  * covered by their own parity specs — these paths claim EXACTNESS,
  * so they are held to brute force on every generated corpus.
  */
class DedupPropertySpec extends SparkSuite {
  import spark.implicits._

  private val rng = new scala.util.Random(4242)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")

  private def randDoc(): String = rng.nextInt(20) match {
    case 0 => ""                                  // empty
    case 1 => "   "                               // whitespace-only
    case 2 => vocab(rng.nextInt(vocab.size))      // single word
    case _ =>
      val len = 1 + rng.nextInt(18)
      Vector.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
  }

  private def corpus(n: Int): Seq[(Long, String)] = {
    val base = (0 until n).map(i => (i.toLong, randDoc()))
    // plant exact duplicates and one-word mutations of earlier docs
    val dups = (0 until n / 4).map { i =>
      val (src, text) = base(rng.nextInt(n))
      val mutated =
        if (rng.nextBoolean() || text.trim.isEmpty) text
        else {
          val ws = text.split(" ").toVector
          ws.updated(rng.nextInt(ws.size), vocab(rng.nextInt(vocab.size))).mkString(" ")
        }
      ((n + i).toLong, if (rng.nextBoolean()) text else mutated)
    }
    base ++ dups
  }

  private def bruteSets(docs: Seq[(Long, String)]): Map[Long, Set[String]] =
    docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSet }.toMap

  private def brutePairs(sets: Map[Long, Set[String]], t: Double,
                         bipartiteSplit: Option[Long => Boolean]): Set[(Long, Long)] = {
    val ids = sets.keys.toSeq.sorted
    (for {
      i <- ids; j <- ids
      if (bipartiteSplit match {
        case None => i < j
        case Some(f) => f(i) && !f(j)
      })
      a = sets(i); b = sets(j)
      inter = a.intersect(b).size
      uni = a.size + b.size - inter
      if uni > 0 && inter.toDouble / uni >= t
    } yield (i, j)).toSet
  }

  test("prefixJaccardDuplicates == brute force over random corpora and thresholds") {
    for (round <- 0 until 4) {
      val docs = corpus(40 + round * 10)
      val t = Seq(0.5, 0.7, 0.9, 0.999)(round)
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.prefixJaccardDuplicates(df, "doc_id", "text", t)
        .select("i", "j").as[(Long, Long)].collect().toSet
      val want = brutePairs(bruteSets(docs), t, None)
      assert(got === want, s"round $round threshold $t")
    }
  }

  test("prefixJaccardJoin == brute force cross pairs over random corpora") {
    for (round <- 0 until 3) {
      val docs = corpus(40)
      val t = Seq(0.6, 0.8, 0.95)(round)
      val df = docs.toDF("doc_id", "text")
      val even = df.filter(col("doc_id") % 2 === 0)
      val odd = df.filter(col("doc_id") % 2 === 1)
      val got = Dedup.prefixJaccardJoin(even, odd, "doc_id", "text", t)
        .select("i", "j").as[(Long, Long)].collect().toSet
      val want = brutePairs(bruteSets(docs), t, Some(_ % 2 == 0))
      assert(got === want, s"round $round threshold $t")
    }
  }

  test("contamination == brute-force shared-n-gram accounting over random corpora") {
    for (n <- Seq(2, 3)) {
      val docs = corpus(50)
      val df = docs.toDF("doc_id", "text")
      val corpusSide = df.filter(col("doc_id") % 3 =!= 0)
      val benchSide = df.filter(col("doc_id") % 3 === 0)
      val got = Dedup.contamination(corpusSide, benchSide, "doc_id", "text", n)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      def gramsOf(t: String): Set[Seq[String]] = {
        val ws = t.split(" ").filter(_.nonEmpty).toSeq
        (0 to ws.length - n).map(i => ws.slice(i, i + n)).toSet
      }
      val bench = docs.filter(_._1 % 3 == 0).map { case (id, t) => id -> gramsOf(t) }
      val want = docs.filter(_._1 % 3 != 0).flatMap { case (id, t) =>
        val g = gramsOf(t)
        val hitDocs = bench.count { case (_, bg) => g.intersect(bg).nonEmpty }
        val hitGrams = g.count(gr => bench.exists(_._2.contains(gr)))
        if (hitDocs > 0) Some(id -> ((hitDocs.toLong, hitGrams.toLong))) else None
      }.toMap
      assert(got === want, s"n=$n")
    }
  }

  test("ngramJaccard: broadcast and prefix paths both == brute force") {
    for ((n, t) <- Seq((3, 0.5), (2, 0.7), (4, 0.3))) {
      val docs = corpus(50)
      val df = docs.toDF("doc_id", "text")
      def gramSet(s: String): Set[String] =
        if (s.length < n) Set.empty
        else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
      val want = (for {
        (i, ti) <- docs; (j, tj) <- docs if i < j
        a = gramSet(ti); b = gramSet(tj)
        inter = a.intersect(b).size
        uni = a.size + b.size - inter
        if uni > 0 && inter.toDouble / uni >= t
      } yield (i, j)).toSet
      // dispatch guard above the corpus size -> broadcast all-pairs path
      val brute = Dedup.ngramJaccard(df, "doc_id", "text", n, t)
        .select("i", "j").as[(Long, Long)].collect().toSet
      // guard at 0 -> prefix-filter path (q33's corpus-scale plan)
      val prefix = Dedup.ngramJaccard(df, "doc_id", "text", n, t, bruteForceMaxDocs = 0)
        .select("i", "j").as[(Long, Long)].collect().toSet
      assert(brute === want, s"broadcast path n=$n t=$t")
      assert(prefix === want, s"prefix path n=$n t=$t")
    }
  }

  test("ngramJaccardLSH and the auto dispatch == brute force at tuned miss 1e-6") {
    for ((n, t) <- Seq((3, 0.5), (2, 0.7), (4, 0.6))) {
      val docs = corpus(60)
      val df = docs.toDF("doc_id", "text")
      def gramSet(s: String): Set[String] =
        if (s.length < n) Set.empty
        else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
      val want = (for {
        (i, ti) <- docs; (j, tj) <- docs if i < j
        a = gramSet(ti); b = gramSet(tj)
        inter = a.intersect(b).size
        uni = a.size + b.size - inter
        if uni > 0 && inter.toDouble / uni >= t
      } yield (i, j)).toSet
      // at targetMiss 1e-6 over a few hundred true pairs, a miss is a
      // ~1e-4 event: equality asserted outright (a flake would signal
      // a band-tuning bug long before a probability-theory one)
      val lsh = Dedup.ngramJaccardLSH(df, "doc_id", "text", n, t)
        .select("i", "j").as[(Long, Long)].collect().toSet
      assert(lsh === want, s"LSH path n=$n t=$t")
      val auto = Dedup.ngramJaccardAuto(df, "doc_id", "text", n, t,
          bruteForceMaxDocs = 0, estBudgetPerDoc = 0.0)
        .select("i", "j").as[(Long, Long)].collect().toSet
      assert(auto === want, s"auto path (forced LSH) n=$n t=$t")
      // the other two dispatch branches: default guard -> brute;
      // zero guard + huge budget -> prefix. Both exact.
      val autoBrute = Dedup.ngramJaccardAuto(df, "doc_id", "text", n, t)
        .select("i", "j").as[(Long, Long)].collect().toSet
      assert(autoBrute === want, s"auto path (brute) n=$n t=$t")
      val autoPrefix = Dedup.ngramJaccardAuto(df, "doc_id", "text", n, t,
          bruteForceMaxDocs = 0, estBudgetPerDoc = 1e12)
        .select("i", "j").as[(Long, Long)].collect().toSet
      assert(autoPrefix === want, s"auto path (prefix) n=$n t=$t")
    }
  }

  test("hammingPairs (the signature-generic banding entry) == brute force " +
    "over random wide signatures, exactly once, incl. a hot bucket") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    Seq((1, 6, 512), (2, 10, 512), (1, 8, 4)).foreach { case (nWords, maxHam, budget) =>
      // clustered signatures so true pairs exist: 40 bases, members
      // flip a few random bits; plus one value repeated 30x so the
      // budget=4 case exercises the hot sub-split path
      val bases = Array.fill(40)(Array.fill(nWords)(rnd.nextLong()))
      val sigs = (0 until 300).map { i =>
        val b = bases(i % 40).clone()
        (0 until rnd.nextInt(4)).foreach { _ =>
          val w = rnd.nextInt(nWords)
          b(w) ^= (1L << rnd.nextInt(64))
        }
        (i.toLong, b.toSeq)
      } ++ (1000L until 1030L).map(i => (i, bases(0).toSeq))
      val df = sigs.toDF("id", "sig")
      val got = Dedup.hammingPairs(df, nWords, maxHam, budget)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      // exactly once
      assert(got.map(_._1).distinct.length === got.length,
        s"duplicate pairs at nWords=$nWords")
      val want = (for {
        a <- sigs; b <- sigs if a._1 < b._1
        h = (0 until nWords).map(w =>
          java.lang.Long.bitCount(a._2(w) ^ b._2(w))).sum
        if h <= maxHam
      } yield ((a._1, b._1), h)).toMap
      assert(got.toMap === want,
        s"nWords=$nWords maxHam=$maxHam budget=$budget: " +
          s"${got.length} vs ${want.size}")
      // the collapsed entry (identical-sig classes pre-collapsed,
      // pairs expanded back) keeps the identical output contract —
      // the fixture's 30 duplicated signatures exercise it
      val gotC = Dedup.hammingPairsCollapsed(df, nWords, maxHam, budget)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      assert(gotC.map(_._1).distinct.length === gotC.length)
      assert(gotC.toMap === want, s"collapsed variant nWords=$nWords")
    }
  }

  test("simhash pairs == brute-force hamming pairs, exactly once, hot split on/off") {
    for (round <- 1 to 2) {
      val docs = corpus(80)
      val df = docs.toDF("doc_id", "text")
      // brute force: the engine's signature column, then all-pairs popcount
      val sigs = df.select(col("doc_id"),
          Dedup.simhash(Dedup.wordSet(col("text"))).as("sig"))
        .as[(Long, Long)].collect()
      val want = (for {
        (i, si) <- sigs; (j, sj) <- sigs if i < j
        if java.lang.Long.bitCount(si ^ sj) <= 8
      } yield (i, j)).toSet
      // default budget: every bucket cold at this corpus size
      val cold = Dedup.simhashDuplicates(df, "doc_id", "text", maxHamming = 8)
        .select("i", "j").as[(Long, Long)].collect()
      assert(cold.length === cold.toSet.size, s"round $round: duplicate cold emissions")
      assert(cold.toSet === want, s"round $round cold")
      // budget 2 forces (nearly) every bucket through the second-level
      // split — same pairs, still exactly once
      val hot = Dedup.simhashDuplicates(df, "doc_id", "text", maxHamming = 8, hotBudget = 2)
        .select("i", "j").as[(Long, Long)].collect()
      assert(hot.length === hot.toSet.size, s"round $round: duplicate hot emissions")
      assert(hot.toSet === want, s"round $round hot")
    }
  }

  test("simhash128 pairs == brute-force 128-bit hamming pairs; word 0 == 64-bit simhash") {
    for (round <- 1 to 2) {
      val docs = corpus(80)
      val df = docs.toDF("doc_id", "text")
      val wide = df.select(col("doc_id"),
          org.apache.spark.sql.graftext.ArrayOps.simhashWide(
            Dedup.wordHashes(Dedup.wordSet(col("text"))), 2).as("sig"),
          Dedup.simhash(Dedup.wordSet(col("text"))).as("sig64"))
        .as[(Long, Seq[Long], Long)].collect()
      // word 0 of the wide signature is bit-equal to the 64-bit simhash
      wide.foreach { case (id, s, s64) => assert(s.head === s64, s"doc $id") }
      val want = (for {
        (i, si, _) <- wide; (j, sj, _) <- wide if i < j
        h = java.lang.Long.bitCount(si(0) ^ sj(0)) + java.lang.Long.bitCount(si(1) ^ sj(1))
        if h <= 8
      } yield (i, j)).toSet
      for (budget <- Seq(512, 2)) {
        val got = Dedup.simhash128Duplicates(df, "doc_id", "text", maxHamming = 8,
            hotBudget = budget)
          .select("i", "j").as[(Long, Long)].collect()
        assert(got.length === got.toSet.size, s"round $round budget $budget: duplicates")
        assert(got.toSet === want, s"round $round budget $budget")
      }
    }
  }

  /** The public size dispatch (driver rounds at these sizes) and the
    * distributed rounds it takes above [[Dedup.SmallPairs]]. */
  private val componentPaths: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    "dispatch" -> ((p, m) => Dedup.connectedComponents(p, m)),
    "distributed rounds" -> ((p, m) => Dedup.componentRounds(p, m)))

  test("connected components converge on a path graph of diameter >> 20") {
    // A 300-node chain: one-hop-per-round propagation would need 300
    // rounds; pointer doubling must finish well inside the default cap
    // AND label every node with the chain minimum.
    val edges = (0L until 299L).map(k => (k, k + 1)).toDF("i", "j")
    for ((path, cc) <- componentPaths) {
      val comps = cc(edges, 50).as[(Long, Long)].collect()
      assert(comps.length === 300, path)
      assert(comps.forall(_._2 === 0L),
        s"$path: unconverged labels: ${comps.filter(_._2 != 0L).take(5).toSeq}")
    }
  }

  test("connected components throw (not silently mislabel) when capped") {
    val edges = (0L until 99L).map(k => (k, k + 1)).toDF("i", "j")
    for ((path, cc) <- componentPaths)
      withClue(path) {
        intercept[IllegalStateException] {
          cc(edges, 2).collect()
        }
      }
  }

  test("connected components on random graphs == brute-force union-find") {
    for (round <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(40)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // brute-force union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val ra = find(a.toInt); val rb = find(b.toInt)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
      for ((path, cc) <- componentPaths) {
        val got = cc(edges.toDF("i", "j"), 50).as[(Long, Long)].collect().toMap
        assert(got.keySet === touched, s"$path round $round")
        touched.foreach { id =>
          // component = min node id in the brute-force component
          val comp = (0 until n).filter(x => find(x) == find(id.toInt)).min.toLong
          assert(got(id) === comp, s"$path round $round node $id")
        }
      }
    }
  }

  /** Each path's schema and its rows as sorted strings (a null reads "null"). */
  private def bothPaths(edges: DataFrame): Seq[(StructType, Seq[(String, String)])] =
    componentPaths.map { case (_, cc) =>
      val out = cc(edges, 50)
      (out.schema, out.collect().map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1))))
        .sorted.toSeq)
    }

  test("connected components: string, int and mixed int/long ids, both paths equal") {
    // strings compare by UTF-8 bytes: "B" < "a" < "é", and "10" < "9"
    val strs = Seq(("a", "é"), ("é", "B"), ("9", "10"), ("x", "x"), ("10", "zz"))
      .toDF("i", "j")
    val Seq(dispatch, rounds) = bothPaths(strs)
    assert(dispatch === rounds)
    assert(dispatch._2 === Seq("10" -> "10", "9" -> "10", "B" -> "B", "a" -> "B",
      "x" -> "x", "zz" -> "10", "é" -> "B"))
    // int ids, and an int i with a long j (the rounds' union widens both to long)
    for (ints <- Seq(Seq((3, 1), (1, 2), (7, 5)).toDF("i", "j"),
        Seq((3, 1L), (1, 2L), (7, 5L)).toDF("i", "j"))) {
      val Seq(di, ri) = bothPaths(ints)
      assert(di === ri)
      assert(di._2 === Seq("1" -> "1", "2" -> "1", "3" -> "1", "5" -> "5", "7" -> "5"))
    }
  }

  test("connected components: a null id comes out exactly as the distributed rounds give it") {
    for (edges <- Seq(
        Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null), (null, 3L), (4L, 3L)),
        Seq[(java.lang.Long, java.lang.Long)]((null, null)),
        Seq[(java.lang.Long, java.lang.Long)]((5L, null)))) {
      val Seq(dispatch, rounds) = bothPaths(edges.toDF("i", "j"))
      assert(dispatch === rounds, edges)
      assert(dispatch._2.contains("null" -> "null"), edges)
    }
    // nothing at all, and non-nullable ids: equal schemas too
    val Seq(e1, e2) = bothPaths(Seq.empty[(Long, Long)].toDF("i", "j"))
    assert(e1 === e2 && e1._2.isEmpty)
  }

  test("job guard: the driver path on a checkpointed pair list runs <= 2 Spark jobs") {
    val pairs = (0L until 299L).map(k => (k, k + 1)).toDF("i", "j")
      .repartition(8).localCheckpoint()
    assert(pairs.rdd.getNumPartitions === 8)
    val jobs = jobsOf(Dedup.connectedComponents(pairs).collect())
    val rounds = jobsOf(Dedup.componentRounds(pairs, 50).collect())
    info(s"connectedComponents: $jobs jobs; the distributed rounds: $rounds")
    assert(jobs <= 2)
  }
}
