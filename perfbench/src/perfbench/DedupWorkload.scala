package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Near-duplicate detection: MinHash-LSH pairs, connected components,
  * keep the best document per component. Shuffle-heavy, with no table
  * format and no geometry.
  *
  * The input is a seeded Zipf corpus with planted near-duplicates:
  * `clones` documents are copies of `templates` (documents not in the
  * corpus) with one word replaced, so clones of one template are far above
  * the 0.8 Jaccard threshold while unrelated documents share only their
  * frequent words. Document ids are a seeded permutation, so clones do not
  * sit next to each other. */
final class DedupWorkload extends Workload {
  val name = "neardup_dedup"
  /** clone id -> its template, per generated corpus */
  private val cloneOfs = collection.mutable.Map[String, Map[Long, Int]]()
  private val Threshold = 0.8
  private val (docs, words, vocab, templates) = (3000, 80, 50000, 30)
  private val clones = docs / 10

  def generate(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val rnd = new SplittableRandom(seed)
    // Zipf(1) over the vocabulary, sampled by inverse CDF
    val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def word(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
    def wordName(r: Int): String = "w" + Integer.toString(r, 36)
    val ids = {
      val a = Array.tabulate(docs)(_.toLong)
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    // templates are not in the corpus: each one's clones form a component
    val tmpl = Array.fill(templates)(Array.fill(words)(word()))
    val originals = docs - clones
    val texts = new Array[Array[Int]](docs)
    for (d <- 0 until originals) texts(d) = Array.fill(words)(word())
    val cloneOf = Map.newBuilder[Long, Int]
    for (c <- 0 until clones) {
      val t = c % templates
      val text = tmpl(t).clone()
      text(rnd.nextInt(words)) = vocab + rnd.nextInt(1 << 20)
      texts(originals + c) = text
      cloneOf += ids(originals + c) -> t
    }
    val md = MessageDigest.getInstance("SHA-256")
    val rows = (0 until docs).map { d =>
      val text = texts(d).map(wordName).mkString(" ")
      md.update(s"${ids(d)}\t$text\n".getBytes(UTF_8))
      Row(ids(d), text)
    }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    cloneOfs(dir) = cloneOf.result()
    Inputs(dir, md.digest().map("%02x".format(_)).mkString,
      Map("docs" -> docs, "words_per_doc" -> words, "vocab" -> vocab,
        "templates" -> templates, "clones" -> clones))
  }

  def pass(ctx: Ctx, in: Inputs): Unit = {
    val corpus = ctx.spark.read.parquet(s"${in.dir}/corpus")
    val pairs = ctx.op("Dedup.pairs") {
      Dedup.minhashDuplicates(corpus, "id", "text", Threshold).select("i", "j").localCheckpoint()
    }
    if (ctx.traced) ctx.untimed(ctx.sample("Dedup.pairs", pairs.count().toDouble))
    val comps = ctx.op("Dedup.components")(Dedup.connectedComponents(pairs).localCheckpoint())
    val kept = ctx.op("Dedup.keep_best") {
      val labeled = corpus.select(col("id"), length(col("text")).as("score"))
        .join(comps, Seq("id"), "left")
        .withColumn("component", coalesce(col("component"), col("id")))
      Dedup.keepBest(labeled, "id", "component", "score")
        .select("id", "component", "keep").collect()
    }
    val component = kept.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (ctx.traced) ctx.sample("Dedup.components", component.values.toSet.size.toDouble)
    val keepers = kept.count(_.getBoolean(2))
    val expected = docs - clones + templates
    ctx.check("Dedup.keepers", keepers == expected, s"$keepers keepers, expected $expected")
    // one component per template, holding exactly its clones
    val byTemplate = cloneOfs(in.dir).groupBy(_._2).values.map(_.keys.flatMap(component.get).toSet)
    val split = byTemplate.count(_.size != 1)
    val shared = byTemplate.toSeq.flatten.size - byTemplate.toSeq.flatten.distinct.size
    ctx.check("Dedup.clone_components", component.size == docs && split == 0 && shared == 0,
      s"${component.size} labelled docs, $split templates split, $shared components shared")
  }

  /** How much of the LSH candidate set survives exact verification. */
  override def extras(ctx: Ctx, in: Inputs): Unit = {
    val hashed = ctx.spark.read.parquet(s"${in.dir}/corpus")
      .select(col("id"), Dedup.wordHashes(Dedup.wordSet(col("text"))).as("h"))
      .localCheckpoint()
    val cands = ctx.op("Dedup.lsh_candidates")(Dedup.lshCandidates(hashed, "id", col("h")).localCheckpoint())
    val verified = ctx.op("Dedup.verify") {
      Dedup.verifyJaccard(cands, hashed).filter(col("jacc") >= Threshold).count()
    }
    val n = cands.count()
    ctx.sample("Dedup.candidates", n.toDouble)
    ctx.sample("Dedup.verify_ratio", if (n > 0) verified.toDouble / n else 0.0)
  }
}
