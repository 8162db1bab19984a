package graft.perfbench

import graft.kg.{Gen, Page, TextExtract}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.jdk.CollectionConverters._

/**
 * The benchmark's input tables. Pages are synthesised only here, while a
 * table is written during set-up; the program under test only ever reads
 * the written parquet files.
 *
 * A table is written as one part file per core, of equal page counts, and
 * read as one scan. With Spark's default split sizing a task then reads one
 * file, and a pass over the first 1/n of the files at local[1] has the same
 * pages per task as a pass over all of them at local[n].
 */
object Corpus {

  def write(spark: SparkSession, dir: String, pages: Long, files: Int)(page: Long => Page): Unit = {
    import spark.implicits._
    spark.range(0L, pages, 1L, files).map(i => page(i)).write.mode("overwrite").parquet(dir)
  }

  def partFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && Paths.get(p).getFileName.toString.startsWith("part-"))
      .toSeq.sorted

  /** The first `files` part files of the table. */
  def read(spark: SparkSession, dir: String, files: Int): Dataset[Page] = {
    import spark.implicits._
    val all = partFiles(dir)
    require(all.size >= files, s"$dir has ${all.size} part files, wanted $files")
    spark.read.parquet(all.take(files): _*).as[Page]
  }

  /** Total bytes of the table's part files. */
  def bytes(dir: String): Long = partFiles(dir).map(f => Files.size(Paths.get(f))).sum
}

/**
 * The diverse corpus: every sentence places two or three gazetteer
 * entities (the first a valid relation subject, the others of other NER
 * types) among random words of
 * the frozen word vocabulary. The filler words are never gazetteer tokens,
 * so the mentions found are exactly the placed entities, and they are
 * vocabulary words, so the blanked sequences do not collapse to UNK and
 * rarely repeat: the scoring memo misses and the LSTM carries the load.
 */
object Diverse {
  private val gazetteerTokens: Set[String] = Gen.gazetteer.keys.flatMap(_.split(" ")).toSet

  /** Lower-case alphabetic vocabulary words that no entity surface uses. */
  val fillers: Array[String] = Gen.buildVocabs().word.index2word
    .filter(w => w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z') && !gazetteerTokens(w))
    .toArray

  private val subjects = Gen.allEntities.filter(e => e.ner == "PERSON" || e.ner == "ORGANIZATION")

  /** The corpus claims the benchmark relies on: checked during set-up. */
  def selfCheck(): Unit = {
    val vocab = Gen.buildVocabs().word
    require(fillers.length >= 20, s"only ${fillers.length} filler words")
    val notInVocab = fillers.filterNot(vocab.contains)
    require(notInVocab.isEmpty, s"filler words outside the word vocabulary: ${notInVocab.mkString(",")}")
    val gaz = fillers.filter(gazetteerTokens)
    require(gaz.isEmpty, s"filler words that are gazetteer tokens: ${gaz.mkString(",")}")
  }

  private def words(rng: Gen.Rng, min: Int, max: Int): Seq[String] =
    Seq.fill(min + rng.nextInt(max - min + 1))(fillers(rng.nextInt(fillers.length)))

  private def surface(rng: Gen.Rng, e: Gen.Entity): String = e.surfaces(rng.nextInt(e.surfaces.length))

  def sentence(rng: Gen.Rng): String = {
    // objects never share the subject's NER type: a pair and its mirror
    // blank to the same sequence, so with equal types they would share a
    // memo key
    val subject = subjects(rng.nextInt(subjects.length))
    val objects = Gen.allEntities.filter(_.ner != subject.ner)
    val entities = subject +: Seq.fill(1 + rng.nextInt(2))(objects(rng.nextInt(objects.length)))
    // entities never touch: at least one filler word between two of them
    val parts = words(rng, 1, 4) ++ entities.zipWithIndex.flatMap { case (e, k) =>
      (if (k > 0) words(rng, 2, 5) else Nil) :+ surface(rng, e)
    } ++ words(rng, 1, 4)
    parts.mkString(" ") + " ."
  }

  def page(seed: Long, i: Long): Page = {
    val rng = new Gen.Rng(seed * 0xA24BAED4963EE407L + i * 0x9FB21C651E98DF25L + 3)
    val paras = Seq.fill(3 + rng.nextInt(4))(sentence(rng)).map(s => s"  <p>$s</p>").mkString("\n")
    val html = s"<html><body>\n$paras\n</body></html>"
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ts = new java.sql.Timestamp(1420070400000L + (i % 31536000L) * 1000L)
    Page(s"https://example.org/diverse/$i", ts, bytes, TextExtract.extract(bytes), "en")
  }
}
