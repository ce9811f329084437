package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** TRAINED document-quality classifier: feature-hashed bag-of-words
  * + full-batch logistic regression — the fastText/CCNet-style
  * quality filter every large pretraining pipeline runs (cf. Brown
  * et al., "Language Models are Few-Shot Learners" §2.2's
  * quality-classifier filtering; Wenzek et al., "CCNet"). The
  * existing [[TextAnalysis.classify]] scores with FIXED hash weights
  * (SQL-expressible, hash-gated); this one LEARNS its weights from
  * labeled examples and generalizes to unseen documents.
  *
  * Scale design (100 TB posture), mirroring [[graft.sim.Kmeans]]:
  *  - Features are HASHED (Weinberger et al., "Feature Hashing for
  *    Large Scale Multitask Learning"): token → bucket in [0, dim) by
  *    FNV-1a, so the model is a fixed `dim`-double vector regardless
  *    of vocabulary size — no vocab table, no dictionary shuffle, and
  *    the same document always hashes identically (deterministic).
  *  - Each training iteration is ONE narrow pass: weights broadcast,
  *    per-partition gradient partials (dim doubles each) collected
  *    and summed ON THE DRIVER IN PARTITION ORDER — fixed float
  *    summation order, so training is bit-reproducible for a fixed
  *    input layout. The corpus is never collected; driver state is
  *    the weight vector (dim+1 doubles).
  *  - Scoring is map-only: broadcast weights, one pass, no shuffle.
  *
  * Labels come from the caller (human labels, an LM judge, or — the
  * classic bootstrap — a high-precision heuristic like
  * [[TextAnalysis.quality]] used as weak supervision, which is what
  * the gate query does).
  */
object QualityClassifier {

  final case class Model(dim: Int, w: Array[Double], bias: Double)

  final case class Example(doc_id: Long, feats: Array[Int], label: Double)

  private def fnv1a(s: String): Int = {
    var h = 0x811c9dc5
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i) & 0xff
      h *= 0x01000193
      i += 1
    }
    h
  }

  /** Shared with [[Boilerplate]]'s stopword-density axis — one
    * engine-wide list, per the r16 verdict's reuse note. */
  private[text] val StopWords = Set("the", "a", "of", "and", "to", "is", "in")

  /** Word tokens + DISCRETIZED DENSE FEATURES as synthetic tokens
    * (the fastText trick): log2-bucketed whitespace-token length and
    * 5%-bucketed stopword ratio enter the same hashed space as the
    * words. Quality is not a pure vocabulary property — the classic
    * heuristics are length and stopword density — and averaging a bag
    * of word features erases exactly those, so they are re-injected
    * as first-class features the trainer can weight. The ratio uses
    * the SAME denominators as [[TextAnalysis.quality]] (stop count
    * over letter-run tokens, length over whitespace tokens): features
    * that don't line up with the label's own arithmetic blur its
    * decision boundary into adjacent buckets. */
  private def featureTokens(text: String): Seq[String] = {
    val toks = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq
    val nWs = text.split("\\s+").count(_.nonEmpty)
    val nStop = toks.count(StopWords)
    // EXACT integer floor(log2): `(math.log(n)/math.log(2)).toInt` is
    // within 1 ulp of an integer at exact powers of two, where C and
    // JVM libm may truncate differently — the integer form makes the
    // bucket re-derivable bit-exactly by the DuckDB oracle
    // (strlen(bin(n)) - 1)
    val lenBucket = if (nWs == 0) -1 else 31 - Integer.numberOfLeadingZeros(nWs)
    val stopBucket = if (nWs == 0) -1 else (nStop * 100 / nWs) / 5
    // repeat the dense tokens with document length so their share of
    // the AVERAGED margin is a constant ~1/9 each, not 1/n — without
    // this, long documents dilute the dense signal to nothing and
    // gradient descent collapses to the class prior
    val rep = 1 + toks.length / 8
    toks ++ Seq.fill(rep)(s"__len$lenBucket") ++ Seq.fill(rep)(s"__stop$stopBucket")
  }

  /** Hash a document's feature tokens into buckets (one entry per
    * token — duplicates keep their multiplicity; the gradient pass
    * normalizes by feature count so long documents don't dominate). */
  private def bucketsOf(text: String, dim: Int): Array[Int] =
    featureTokens(text).map(t => math.floorMod(fnv1a(t), dim)).toArray

  /** (doc_id, hashed feature buckets, label) from a (doc_id, text,
    * label) frame — the word tokenizer is the repo-standard lowercase
    * letter-run split, so classifier features line up with every
    * other text operator. */
  def examples(docs: DataFrame, dim: Int): Dataset[Example] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"),
        col("label").cast("double"))
      .as[(Long, String, Double)]
      .map { case (id, text, y) => Example(id, bucketsOf(text, dim), y) }
  }

  private def margin(m: Model, feats: Array[Int]): Double = {
    if (feats.isEmpty) return m.bias
    var s = 0.0
    var i = 0
    while (i < feats.length) { s += m.w(feats(i)); i += 1 }
    m.bias + s / feats.length
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Full-batch gradient descent, `iters` one-pass rounds. Returns
    * the trained model and the per-iteration mean log-loss trace
    * (computed in the SAME pass as the gradient — no extra job).
    *
    * Driver load is bounded like [[graft.sim.Pca.fit]]: past `fanIn`
    * partitions the per-partition (dim+3)-double partials fold through
    * deterministic tree levels (group = pid / fanIn, fold sorted by
    * pid) before the collect — at dim 4096 and 800k partitions the
    * flat collect would be ~26 GB per iteration; the tree caps it at
    * fanIn partials. Zero extra stages at gate scale (P < fanIn). */
  def train(ex: Dataset[Example], dim: Int, iters: Int = 30,
      lr: Double = 8.0, l2: Double = 1e-6,
      momentum: Double = 0.95, fanIn: Int = 64): (Model, Array[Double]) = {
    val spark = ex.sparkSession
    require(fanIn >= 2, "train: fanIn must be >= 2")
    // the loop runs on the PERSISTED RDD, not the Dataset: each
    // iteration is then a plain scheduler job over cached partitions
    // instead of a fresh Catalyst/AQE plan + codegen compile — the
    // r18 stage audit showed ~40 sequential ~10 ms-task micro-stages
    // whose wall was all planning floor. Same partitions, same
    // per-partition row order, same sorted driver fold ⇒ the weight
    // trajectory is bit-identical.
    //
    // Storage-level tradeoff (r19, measured): object caching holds
    // boxed Example rows (one Array[Int] per row) — several× the
    // columnar footprint, more GC pressure at production corpus
    // sizes. MEMORY_AND_DISK_SER was measured at gate scale and
    // REJECTED: per-iteration deserialization × 30 iterations raised
    // task_ms 835→1327 (+60%) and median wall 3.70→~4.1 s over six
    // runs. At a corpus where the example set pressures the heap,
    // flip this to MEMORY_AND_DISK_SER — the deser cost is per-pass
    // linear while GC/spill of object caching is superlinear.
    val cached = ex.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = cached.count().toDouble
    require(n > 0, "train: empty example set")
    val numParts = cached.getNumPartitions
    var m = Model(dim, new Array[Double](dim), 0.0)
    val losses = new Array[Double](iters)
    // heavy-ball momentum: full-batch GD on a convex loss converges
    // an order of magnitude faster with it, and it stays deterministic
    val vel = new Array[Double](dim)
    var velB = 0.0
    def foldSorted(partials: Array[(Int, Array[Double], Double, Double, Long)])
        : (Array[Double], Double, Double, Long) = {
      val sorted = partials.sortBy(_._1)
      val g = new Array[Double](dim)
      var gb = 0.0; var loss = 0.0; var cnt = 0L
      sorted.foreach { case (_, pg, pgb, pl, pc) =>
        var i = 0
        while (i < dim) { g(i) += pg(i); i += 1 }
        gb += pgb; loss += pl; cnt += pc
      }
      (g, gb, loss, cnt)
    }
    for (it <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(m)
      // one narrow pass: per-partition (partitionId, gradient, biasGrad,
      // loss, count) — dim+3 doubles per partition
      var cur = cached.mapPartitions { rows =>
        val mod = bc.value
        val g = new Array[Double](mod.dim)
        var gb = 0.0; var loss = 0.0; var cnt = 0L
        rows.foreach { e =>
          val p = sigmoid(margin(mod, e.feats))
          val err = p - e.label // d(logloss)/d(margin)
          if (e.feats.nonEmpty) {
            val scale = err / e.feats.length
            var i = 0
            while (i < e.feats.length) { g(e.feats(i)) += scale; i += 1 }
          }
          gb += err
          val pc = math.min(math.max(p, 1e-12), 1.0 - 1e-12)
          loss += -(e.label * math.log(pc) + (1.0 - e.label) * math.log(1.0 - pc))
          cnt += 1
        }
        Iterator.single((org.apache.spark.TaskContext.getPartitionId(), g, gb, loss, cnt))
      }
      var bound = numParts
      while (bound > fanIn) {
        cur = cur.groupBy(_._1 / fanIn).map { case (grp, itr) =>
          val (g, gb, l, c) = foldSorted(itr.toArray)
          (grp, g, gb, l, c)
        }
        bound = (bound + fanIn - 1) / fanIn
      }
      // fixed summation order end to end: sorted fold per level + here
      val (grad, gradB, lossSum, _) = foldSorted(cur.collect())
      losses(it) = lossSum / n
      var i = 0
      while (i < dim) {
        vel(i) = momentum * vel(i) + grad(i) / n + l2 * m.w(i)
        i += 1
      }
      velB = momentum * velB + gradB / n
      val w2 = Array.tabulate(dim)(j => m.w(j) - lr * vel(j))
      m = Model(dim, w2, m.bias - lr * velB)
      bc.destroy()
    }
    cached.unpersist()
    (m, losses)
  }

  /** Map-only scoring pass: (doc_id, score_micro, label). The score
    * is the sigmoid probability ×1e6 truncated to a long — an
    * integer output column, downstream-thresholdable without float
    * comparison hazards. */
  def score(docs: DataFrame, m: Model): DataFrame = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(m)
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val p = sigmoid(margin(bc.value, bucketsOf(text, bc.value.dim)))
        (id, (p * 1e6).toLong, if (p >= 0.5) 1 else 0)
      }
      .toDF("doc_id", "score_micro", "label")
  }

  /** Map-only MARGIN scoring pass: (doc_id, margin_micro, label) with
    * `margin_micro = trunc(margin * 1e6)` and `label = margin >= 0`
    * (≡ sigmoid(margin) >= 0.5 — sigmoid is monotone). This is the
    * GATE surface: unlike [[score]] it involves no transcendental
    * (exp differs in the last ulp across libm implementations), so
    * the DuckDB oracle reproduces it bit-exactly from the dumped
    * weights — the fold over feature weights, the division, the
    * bias add, and the ×1e6 truncation are all exactly-specified
    * IEEE-754 ops evaluated in the same order on both engines. */
  def scoreMargin(docs: DataFrame, m: Model): DataFrame = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(m)
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val mg = margin(bc.value, bucketsOf(text, bc.value.dim))
        (id, (mg * 1e6).toLong, if (mg >= 0) 1 else 0)
      }
      .toDF("doc_id", "margin_micro", "label")
  }

  /** This run's weight side dump path for a corpus dir basename; the
    * `text_quality_clf` oracle names it for the corpus dir it is given. */
  def sideDumpPath(base: String): String =
    graft.core.SideDump.path("clf_weights", base)

  /** Gate surface: BOOTSTRAP from the [[TextAnalysis.quality]]
    * heuristic as weak supervision — train on the heuristic's binary
    * labels, emit the classifier's per-doc MARGIN verdicts
    * ([[scoreMargin]]). The learned model smooths the heuristic's
    * hard thresholds through vocabulary evidence (the standard
    * weak-label → classifier distillation step). Deterministic for a
    * fixed corpus layout (see [[train]]).
    *
    * The trained weights are side-dumped as `(idx, w)` rows (idx −1 =
    * bias) — the ONLY thing the DuckDB oracle takes on faith: it
    * re-tokenizes, re-hashes (FNV-1a re-expressed in unsigned-64
    * arithmetic), and re-folds the margin from raw text itself, so
    * the whole scoring path is independently re-derived. */
  def classifyTrained(spark: SparkSession, sfDir: String, dim: Int = 4096,
      iters: Int = 40): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val labeled = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("is_quality").cast("double").as("label"))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    val (model, _) = train(examples(labeled, dim), dim, iters)
    val base = new java.io.File(sfDir).getName
    graft.core.SideDump.write(
      ((-1, model.bias) +: model.w.toSeq.zipWithIndex.map(_.swap))
        .toDF("idx", "w"),
      "clf_weights", base)
    scoreMargin(docs.select(col("doc_id"), col("text")), model)
      .orderBy(col("doc_id"))
  }
}
