package graft.perfbench

import graft.kg._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.util.hashing.MurmurHash3

/** One deduplicated triple, as `Pipeline.dedupTriples` emits it. */
final case class Triple(subjectId: String, relation: String, objectId: String,
    confidence: Double, support: Long)

object Triples {
  def collect(df: DataFrame): Seq[Triple] =
    df.select("subject_id", "relation", "object_id", "confidence", "support").collect()
      .map(r => Triple(r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getLong(4)))
      .toSeq.sortBy(t => (t.subjectId, t.relation, t.objectId))

  /** (row count, md5 over the sorted rows with exact doubles). */
  def pin(ts: Seq[Triple]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ts.map(t => s"${t.subjectId}\t${t.relation}\t${t.objectId}\t${t.confidence}\t${t.support}\n")
      .sorted.foreach(l => md.update(l.getBytes("UTF-8")))
    (ts.size.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** Order-independent digest of scored pairs: (count, sum of row hashes). */
  def pairHash(p: ScoredPair): Long = {
    val s = s"${p.url}\u0001${p.sentIdx}\u0001${p.subjectSurface}\u0001${p.subjectNer}\u0001" +
      s"${p.objectSurface}\u0001${p.objectNer}\u0001${p.relation}\u0001" +
      java.lang.Double.doubleToLongBits(p.confidence)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) | (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)
  }

  def pairDigest(spark: SparkSession, scored: Dataset[ScoredPair]): (Long, Long) = {
    import spark.implicits._
    scored.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { p => n += 1; h += pairHash(p) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }
}

/**
 * The traced layer job. It runs over the same pages table with the same
 * partitioning as the program, and each task calls the public layer
 * functions in the order the fused kernel does: TextExtract.extract,
 * Segment.sentences, Segment.tokenizeLower, Segment.detectMentionsIndexed,
 * Segment.candidatePairs, SentenceFeaturizer.featurize (on
 * Segment.toExample) and Scorer.predict, adding each layer's nanoTime to
 * accumulators the benchmark owns. With `everyPair`, `predict` runs on
 * every candidate pair (no memo); its time also counts toward
 * `score.ns_distinct` when the pair's featurized key is the first of its
 * kind in the task, which is the cost the program's per-task memo leaves.
 * Without it, `predict` runs once per distinct key in a task (a memo of
 * the job's own), which makes a cheaper reference on a repetitive corpus.
 *
 * Its output is a reference for the output gates: the scored-pair digest
 * and the linked, deduplicated triples, computed without the memo, the
 * Spark SQL join or the aggregation.
 */
object Layers {
  val Counters: Seq[String] = Seq(
    "extract.ns", "extract.bytes", "segment.ns", "segment.sentences",
    "tokenize.ns", "tokenize.tokens", "mentions.ns", "mentions.count",
    "pairs.ns", "pairs.count", "featurize.ns", "featurize.errors",
    "score.ns_all", "score.ns_distinct", "score.attempted", "score.distinct",
    "sentences.no_pair")

  final case class Result(counters: Map[String, Long], pairs: (Long, Long), triples: Seq[Triple])

  private final class Key(val seq: Array[Int], val s: Int, val o: Int) {
    override val hashCode: Int = (java.util.Arrays.hashCode(seq) * 31 + s) * 31 + o
    override def equals(that: Any): Boolean = that match {
      case k: Key => k.s == s && k.o == o && java.util.Arrays.equals(k.seq, seq)
      case _ => false
    }
  }

  private final case class TaskOut(pairs: Long, pairHash: Long,
      triples: Map[(String, String, String), (Double, Long)])

  def run(spark: SparkSession, pages: Dataset[Page],
      bundleBc: Broadcast[Pipeline.ScoringBundle], everyPair: Boolean): Result = {
    import spark.implicits._
    val sc = spark.sparkContext
    val accs = Counters.map(n => sc.longAccumulator(s"perfbench.$n")).toArray
    val dictionary: Map[(String, String), Seq[String]] = Gen.entityDictionary
      .groupBy(r => (r.surface, r.ner)).map { case (k, rs) => k -> rs.map(_.entityId) }
    val idx = Counters.zipWithIndex.toMap

    val outs = pages.select($"url", $"html").as[(String, Array[Byte])].rdd.mapPartitions { it =>
      val c = new Array[Long](Counters.size)
      @inline def add(name: String, v: Long): Unit = c(idx(name)) += v
      val b = bundleBc.value
      val scorer = new Scorer(b.weights, b.typechecker)
      val gazIndex = new Segment.GazetteerIndex(b.gazetteer)
      val featurizer = new SentenceFeaturizer(b.toVocabSet, b.scope)
      val noRelId = b.rel("no_relation")
      val seen = new java.util.HashMap[Key, (Int, Double)]()
      val triples = scala.collection.mutable.HashMap.empty[(String, String, String), (Double, Long)]
      var nPairs = 0L
      var pairHash = 0L

      it.foreach { case (url, html) =>
        val t0 = System.nanoTime()
        val text = TextExtract.extract(html)
        val t1 = System.nanoTime()
        val sentences = Segment.sentences(text)
        val t2 = System.nanoTime()
        add("extract.ns", t1 - t0); add("extract.bytes", html.length)
        add("segment.ns", t2 - t1); add("segment.sentences", sentences.size)
        sentences.zipWithIndex.foreach { case (sent, sentIdx) =>
          val t3 = System.nanoTime()
          val lower = Segment.tokenizeLower(sent)
          val t4 = System.nanoTime()
          val mentions = Segment.detectMentionsIndexed(lower, gazIndex)
          val t5 = System.nanoTime()
          add("tokenize.ns", t4 - t3); add("tokenize.tokens", lower.size)
          add("mentions.ns", t5 - t4); add("mentions.count", mentions.size)
          val pairs = if (mentions.isEmpty) Nil else {
            val ps = Segment.candidatePairs(mentions)
            add("pairs.ns", System.nanoTime() - t5); add("pairs.count", ps.size)
            ps
          }
          if (pairs.isEmpty) add("sentences.no_pair", 1)
          pairs.foreach { case (s, o) =>
            val t6 = System.nanoTime()
            val feat = try Some(featurizer.featurize(Segment.toExample(lower, s, o))) catch {
              case _: NoPathException | _: NoSuchElementException => None
            }
            val t7 = System.nanoTime()
            add("featurize.ns", t7 - t6)
            feat match {
              case None => add("featurize.errors", 1)
              case Some(f) =>
                val seq = f.sequence.toArray
                val key = new Key(seq, f.subjectNer, f.objectNer)
                val known = seen.get(key)
                add("score.attempted", 1)
                val (relId, conf) = if (known != null && !everyPair) known else {
                  val t8 = System.nanoTime()
                  val scored = scorer.predict(seq, f.subjectNer, f.objectNer)
                  val dt = System.nanoTime() - t8
                  add("score.ns_all", dt)
                  if (known == null) {
                    seen.put(key, scored)
                    add("score.ns_distinct", dt); add("score.distinct", 1)
                  }
                  scored
                }
                if (relId != noRelId) {
                  val p = ScoredPair(url, sentIdx, s.surface, s.ner, o.surface, o.ner,
                    b.rel.index2word(relId), conf)
                  nPairs += 1
                  pairHash += Triples.pairHash(p)
                  for (sid <- dictionary.getOrElse((s.surface, s.ner), Nil);
                       oid <- dictionary.getOrElse((o.surface, o.ner), Nil)) {
                    val k = (sid, p.relation, oid)
                    val (m, n) = triples.getOrElse(k, (Double.MinValue, 0L))
                    triples(k) = (math.max(m, conf), n + 1)
                  }
                }
            }
          }
        }
      }
      c.indices.foreach(i => accs(i).add(c(i)))
      Iterator(TaskOut(nPairs, pairHash, triples.toMap))
    }.collect()

    val merged = outs.flatMap(_.triples).groupBy(_._1).map { case (k, vs) =>
      val (s, r, o) = k
      Triple(s, r, o, vs.map(_._2._1).max, vs.map(_._2._2).sum)
    }.toSeq.sortBy(t => (t.subjectId, t.relation, t.objectId))
    Result(Counters.zip(accs.map(_.value.longValue)).toMap,
      (outs.map(_.pairs).sum, outs.map(_.pairHash).sum), merged)
  }
}
