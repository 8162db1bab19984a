package graft.kg

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/**
 * S9: the experiment-artifact directory contract — persist a trained model
 * as `experiments/<name>/` and reload it for deploy-time scoring
 * (reference: train.py:155-157,171 writes `config.json`, the pickled
 * featurizer [vocabs], and `best_weights`; kbp.py:38-45 loads the same
 * directory to score the live stream).
 *
 * Layout (all deterministic, dependency-free formats):
 *   config.json    — scope, dims, dropout, free-form extras
 *   vocab_word.txt / vocab_ner.txt / vocab_rel.txt — one entry per line,
 *                    line number == id (the insertion order IS the contract)
 *   gazetteer.tsv  — surface \t ner
 *   typecheck.bin  — nerSize, relSize, then the row-major validity tensor
 *   best_weights.bin — every ScorerWeights tensor, fixed order, raw floats
 *
 * Round-trip is bit-exact: floats are written with their IEEE bits, so a
 * reloaded model scores byte-identically (asserted in ExperimentsSpec).
 */
object Experiments {

  // ---- binary tensor IO -----------------------------------------------------
  private def writeMat(o: DataOutputStream, m: Array[Array[Float]]): Unit = {
    o.writeInt(m.length); o.writeInt(if (m.isEmpty) 0 else m(0).length)
    m.foreach(row => row.foreach(v => o.writeInt(java.lang.Float.floatToRawIntBits(v))))
  }
  private def writeVec(o: DataOutputStream, v: Array[Float]): Unit = {
    o.writeInt(v.length)
    v.foreach(x => o.writeInt(java.lang.Float.floatToRawIntBits(x)))
  }
  private def readMat(i: DataInputStream): Array[Array[Float]] = {
    val rows = i.readInt(); val cols = i.readInt()
    Array.fill(rows)(Array.fill(cols)(java.lang.Float.intBitsToFloat(i.readInt())))
  }
  private def readVec(i: DataInputStream): Array[Float] = {
    val n = i.readInt()
    Array.fill(n)(java.lang.Float.intBitsToFloat(i.readInt()))
  }

  private val MAGIC = 0x47524654 // "GRFT"

  def writeWeights(path: String, w: ScorerWeights): Unit = {
    val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      o.writeInt(MAGIC)
      writeMat(o, w.embedding)
      writeMat(o, w.wI); writeMat(o, w.uI); writeVec(o, w.bI)
      writeMat(o, w.wF); writeMat(o, w.uF); writeVec(o, w.bF)
      writeMat(o, w.wC); writeMat(o, w.uC); writeVec(o, w.bC)
      writeMat(o, w.wO); writeMat(o, w.uO); writeVec(o, w.bO)
      writeMat(o, w.dense); writeVec(o, w.denseB)
      o.writeFloat(w.dropout)
    } finally o.close()
  }

  def readWeights(path: String): ScorerWeights = {
    val i = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    try {
      require(i.readInt() == MAGIC, s"not a graft weights file: $path")
      ScorerWeights(
        embedding = readMat(i),
        wI = readMat(i), uI = readMat(i), bI = readVec(i),
        wF = readMat(i), uF = readMat(i), bF = readVec(i),
        wC = readMat(i), uC = readMat(i), bC = readVec(i),
        wO = readMat(i), uO = readMat(i), bO = readVec(i),
        dense = readMat(i), denseB = readVec(i),
        dropout = i.readFloat())
    } finally i.close()
  }

  // ---- vocab / side-input IO -------------------------------------------------
  private def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("\n").getBytes(UTF_8))
  private def readLines(path: String): Seq[String] = {
    val s = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
    if (s.isEmpty) Seq.empty else s.split("\n", -1).toSeq
  }

  private def viewOf(lines: Seq[String], unk: Option[String]): VocabView =
    VocabView(lines.toArray, lines.zipWithIndex.toMap,
      unk.map(u => lines.indexOf(u)).getOrElse(-1))

  /**
   * Persist everything deploy needs under `rootDir/<name>/`. The weights
   * argument carries the TRAINED tensors (Trainer substitutes its best
   * dense readout before calling this — train.py:171 `save_weights`).
   */
  def save(rootDir: String, name: String, bundle: Pipeline.ScoringBundle,
      weights: ScorerWeights, extras: Map[String, String] = Map.empty): String = {
    val dir = Paths.get(rootDir, name)
    Files.createDirectories(dir)
    val d = dir.toString
    val config = (Seq(
      "emb_dim" -> weights.embDim.toString,
      "hidden" -> weights.hidden.toString,
      "rel_size" -> weights.relSize.toString,
      "dropout" -> weights.dropout.toString,
      "scope" -> bundle.scope.toString) ++ extras.toSeq.sortBy(_._1))
      .map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}")
    Files.write(dir.resolve("config.json"), config.getBytes(UTF_8))
    writeLines(s"$d/vocab_word.txt", bundle.word.index2word.toSeq)
    writeLines(s"$d/vocab_ner.txt", bundle.ner.index2word.toSeq)
    writeLines(s"$d/vocab_rel.txt", bundle.rel.index2word.toSeq)
    writeLines(s"$d/vocab_pos.txt", bundle.pos.index2word.toSeq)
    writeLines(s"$d/vocab_dep.txt", bundle.dep.index2word.toSeq)
    writeLines(s"$d/gazetteer.tsv",
      bundle.gazetteer.toSeq.sorted.map { case (s, n) => s"$s\t$n" })
    val tc = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(s"$d/typecheck.bin")))
    try {
      tc.writeInt(bundle.typechecker.nerSize); tc.writeInt(bundle.typechecker.relSize)
      writeVec(tc, bundle.typechecker.valid)
    } finally tc.close()
    writeWeights(s"$d/best_weights.bin", weights)
    d
  }

  /** Reload a saved experiment as a scoring bundle (kbp.py:38-45 deploy
    * path: config + featurizer vocabs + typecheck + best weights). */
  def load(rootDir: String, name: String): Pipeline.ScoringBundle = {
    val d = Paths.get(rootDir, name).toString
    val word = viewOf(readLines(s"$d/vocab_word.txt"), Some("UNKNOWN"))
    val ner = viewOf(readLines(s"$d/vocab_ner.txt"), Some("O"))
    val rel = viewOf(readLines(s"$d/vocab_rel.txt"), None)
    // pos/dep arrived after the first artifact format: dirs saved without
    // them still load (with the unk-only / empty vocab those dirs implied)
    def optLines(path: String): Seq[String] =
      if (Files.exists(Paths.get(path))) readLines(path) else Seq.empty
    val pos = viewOf(optLines(s"$d/vocab_pos.txt"), Some("."))
    val dep = viewOf(optLines(s"$d/vocab_dep.txt"), None)
    val gaz = readLines(s"$d/gazetteer.tsv").filter(_.nonEmpty).map { l =>
      val Array(s, n) = l.split("\t", 2); s -> n
    }.toMap
    val tcIn = new DataInputStream(new BufferedInputStream(
      new FileInputStream(s"$d/typecheck.bin")))
    val typechecker = try {
      val nerSize = tcIn.readInt(); val relSize = tcIn.readInt()
      new TypeChecker(readVec(tcIn), nerSize, relSize)
    } finally tcIn.close()
    val weights = readWeights(s"$d/best_weights.bin")
    val config = new String(Files.readAllBytes(Paths.get(d, "config.json")), UTF_8)
    val scope = """"scope": "(-?\d+)"""".r.findFirstMatchIn(config)
      .map(_.group(1).toInt).getOrElse(-1)
    Pipeline.ScoringBundle(word, ner, rel, gaz, weights, typechecker, scope, pos, dep)
  }

  def exists(rootDir: String, name: String): Boolean =
    Files.exists(Paths.get(rootDir, name, "best_weights.bin"))

  /** Parse an experiment `config.json` (the flat string-valued object
    * [[save]] writes) back into a key → value map. */
  def readConfig(dir: String): Map[String, String] =
    """"([^"]+)": "([^"]*)"""".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(dir, "config.json")), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Write a config map as `config.json` in [[save]]'s format. */
  def writeConfig(dir: String, config: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val body = config.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}")
    Files.write(Paths.get(dir, "config.json"), body.getBytes(UTF_8))
  }

  /**
   * docopt-style config overrides (train.py:115-121): a comma-separated
   * `key:value` spec merged over a base config. Mirrors the reference's
   * rules exactly — a spec without exactly one `:` is an error, the key
   * must already exist in the config (`config[k]` raises there), and the
   * new value is coerced by the EXISTING value's type (int, then float,
   * else string), so `lr:abc` over a float key fails loudly.
   */
  def applyOverrides(base: Map[String, String], spec: String): Map[String, String] =
    if (spec.isEmpty) base
    else spec.split(",", -1).foldLeft(base) { (cfg, s) =>
      val parts = s.split(":", -1)
      require(parts.length == 2, s"invalid option specified: $s")
      val Array(k, v) = parts
      require(cfg.contains(k), s"unknown config key: $k")
      val coerced =
        if (cfg(k).toIntOption.isDefined)
          v.toIntOption.getOrElse(
            throw new IllegalArgumentException(s"option $k expects an int, got: $v")).toString
        else if (cfg(k).toDoubleOption.isDefined)
          v.toDoubleOption.getOrElse(
            throw new IllegalArgumentException(s"option $k expects a number, got: $v")).toString
        else v
      cfg.updated(k, coerced)
    }
}
