package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.HashingEmbedder
import graft.sources.PagesGen

/** One benchmark document. `family` >= 0 groups the docs a generator made
  * near-duplicates of each other; -1 marks an unrelated singleton.
  */
final case class Doc(url: String, warc_ts: java.sql.Timestamp, text: String, family: Long)

/** Workload inputs, all a pure function of (seed, size). */
object Inputs {

  /** Dedup threshold of the engine's default config; truth pairs use the
    * same exact cosine, computed here on the driver.
    */
  val Threshold = 0.90

  /** `crawl_batch`: the engine's own PagesGen corpus — default family mix,
    * Zipf (log-uniform) domains over 1000 hosts, seven days.
    */
  def crawl(spark: SparkSession, nDocs: Int, seed: Long): DataFrame =
    PagesGen.generate(spark, nDocs = nDocs.toLong, seed = seed)
      .select(col("url"), col("warc_ts"), col("text"), col("truth_family").as("family"))

  /** `dup_chains`: ~85 % of docs sit in near-duplicate edit chains. Chain
    * neighbours have cosine in [0.905, 0.95), so the ends of a chain fall
    * below the threshold and a component's diameter grows with its length;
    * every distinct text appears 1-3 times byte-identically, so components
    * hold 20-45 docs (above the 20-doc split, below the 200-row bucket cap
    * because copies collapse before LSH). The rest are unrelated singletons.
    */
  def chains(spark: SparkSession, nDocs: Int, seed: Long): DataFrame = {
    import spark.implicits._
    chainDocs(nDocs, seed).toDF().repartition(spark.sparkContext.defaultParallelism)
  }

  private def chainDocs(nDocs: Int, seed: Long): Seq[Doc] = {
    val rng = new java.util.SplittableRandom(seed)
    val vocab = Array.tabulate(4000) { _ =>
      val n = 3 + rng.nextInt(7)
      new String(Array.fill(n)(('a' + rng.nextInt(26)).toChar))
    }
    def word() = vocab(rng.nextInt(vocab.length))
    def ts(i: Int) = new java.sql.Timestamp(
      (1767225600L + rng.nextInt(7) * 86400L + rng.nextInt(86400)) * 1000L + i % 1000)
    def edit(toks: Vector[String]): Vector[String] = {
      val i = rng.nextInt(toks.length)
      rng.nextInt(3) match {
        case 0 => toks.updated(i, word())
        case 1 if toks.length > 60 => toks.patch(i, Nil, 1)
        case _ => toks.patch(i, Seq(word()), 0)
      }
    }
    // next chain link: single-word edits, each kept only while the link
    // stays >= 0.905, until the link drops below 0.95
    def step(cur: Vector[String]): Vector[String] = {
      val curVec = HashingEmbedder.embed(cur.mkString(" "))
      var cand = cur
      var tries = 0
      var done = false
      while (!done && tries < 60) {
        val next = edit(cand)
        val c = HashingEmbedder.cosine(curVec, HashingEmbedder.embed(next.mkString(" ")))
        if (c >= 0.905) { cand = next; done = c < 0.95 }
        tries += 1
      }
      cand
    }
    val docs = Vector.newBuilder[Doc]
    var n = 0
    var chain = 0
    while (n < nDocs * 85 / 100) {
      val length = 10 + rng.nextInt(7)
      var toks = Vector.fill(100 + rng.nextInt(41))(word())
      for (k <- 0 until length) {
        if (k > 0) toks = step(toks)
        val text = toks.mkString(" ")
        for (copy <- 0 until 1 + rng.nextInt(3)) {
          docs += Doc(s"https://www.c${chain % 97}.example/chain-$chain/v$k-$copy",
            ts(n), text, chain.toLong)
          n += 1
        }
      }
      chain += 1
    }
    while (n < nDocs) {
      val text = Vector.fill(80 + rng.nextInt(61))(word()).mkString(" ")
      docs += Doc(s"https://www.s${n % 89}.example/single-$n", ts(n), text, -1L)
      n += 1
    }
    docs.result().take(nDocs)
  }

  /** Truth pairs: doc pairs inside one generated family or chain whose exact
    * `HashingEmbedder` cosine is >= the threshold. Url-ordered (a < b).
    */
  def truthPairs(docs: Seq[(String, String, Long)]): Seq[(String, String)] =
    docs.filter(_._3 >= 0).groupBy(_._3).values.toSeq.flatMap { fam =>
      val m = fam.sortBy(_._1).toArray
      val vecs = m.map(d => HashingEmbedder.embed(d._2))
      for {
        i <- m.indices
        j <- i + 1 until m.length
        if HashingEmbedder.cosine(vecs(i), vecs(j)) >= Threshold
      } yield (m(i)._1, m(j)._1)
    }
}
