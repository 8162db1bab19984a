package graft.kg

/**
 * Deterministic synthetic Common-Crawl-style corpus generator (north rule:
 * "synthesise it deterministically at small scale for tests and benchmarks;
 * no external data").
 *
 * Everything is a pure function of (seed, index): page i is generated
 * independently, so `spark.range(n).map(page(seed, _))` produces the corpus
 * fully distributed — no driver-side materialization, which is what lets the
 * same generator run at bench scale (hundreds of thousands of pages) and, on
 * a real cluster, at arbitrary scale.
 *
 * The entity inventory includes a deliberately Zipf-hot entity
 * ("United States") so skew handling in the linking join is actually
 * exercised (SURVEY.md §7.7.5).
 */
object Gen {

  // ---- deterministic PRNG (xorshift64*), pure function of its seed chain ----
  final class Rng(seed0: Long) {
    private var s = if (seed0 == 0) 0x9E3779B97F4A7C15L else seed0
    def nextLong(): Long = { s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27; s * 0x2545F4914F6CDD1DL }
    /** uniform int in [0, n) */
    def nextInt(n: Int): Int = (((nextLong() >>> 1) % n).toInt + n) % n
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  }

  // ---- entity inventory -----------------------------------------------------
  final case class Entity(surfaces: Seq[String], ner: String, id: String)

  private val firstNames = Seq("james", "mary", "robert", "patricia", "john", "jennifer",
    "michael", "linda", "david", "elizabeth", "william", "barbara", "richard", "susan",
    "joseph", "jessica", "thomas", "sarah", "charles", "karen")
  private val lastNames = Seq("smith", "johnson", "williams", "brown", "jones", "garcia",
    "miller", "davis", "rodriguez", "martinez", "hernandez", "lopez", "gonzalez", "wilson",
    "anderson", "taylor", "moore", "jackson", "martin", "lee")

  val persons: Seq[Entity] =
    (for (i <- 0 until 30) yield {
      val f = firstNames(i % firstNames.length)
      val l = lastNames((i * 7 + 3) % lastNames.length)
      Entity(Seq(s"$f $l"), "PERSON", f"PER_E$i%03d")
    })

  val orgs: Seq[Entity] = Seq(
    "acme corporation" -> Seq("acme corporation", "acme corp"),
    "globex industries" -> Seq("globex industries", "globex"),
    "initech systems" -> Seq("initech systems", "initech"),
    "umbrella group" -> Seq("umbrella group"),
    "stark enterprises" -> Seq("stark enterprises"),
    "wayne holdings" -> Seq("wayne holdings"),
    "cyberdyne labs" -> Seq("cyberdyne labs", "cyberdyne"),
    "tyrell corporation" -> Seq("tyrell corporation", "tyrell corp"),
    "aperture science" -> Seq("aperture science"),
    "hooli incorporated" -> Seq("hooli incorporated", "hooli"),
    "vandelay imports" -> Seq("vandelay imports"),
    "soylent foods" -> Seq("soylent foods"),
  ).zipWithIndex.map { case ((_, ss), i) => Entity(ss, "ORGANIZATION", f"ORG_E$i%03d") }

  val cities: Seq[Entity] = Seq(
    "springfield", "rivertown", "lakeside", "hillview", "brookfield",
    "fairmont", "oakdale", "maplewood", "cedar falls", "granite bay")
    .zipWithIndex.map { case (s, i) => Entity(Seq(s), "CITY", f"CITY_E$i%03d") }

  /** index 0 is the Zipf-hot key (appears ~15x as often as the cold tail). */
  val countries: Seq[Entity] = Seq(
    Entity(Seq("united states", "the united states"), "COUNTRY", "CTRY_E000"),
    Entity(Seq("freedonia"), "COUNTRY", "CTRY_E001"),
    Entity(Seq("sylvania"), "COUNTRY", "CTRY_E002"),
    Entity(Seq("latveria"), "COUNTRY", "CTRY_E003"),
    Entity(Seq("genosha"), "COUNTRY", "CTRY_E004"),
    Entity(Seq("wakanda"), "COUNTRY", "CTRY_E005"))

  val schools: Seq[Entity] = Seq(
    "northfield university", "eastlake college", "westbrook institute")
    .zipWithIndex.map { case (s, i) => Entity(Seq(s), "ORGANIZATION", f"SCH_E$i%03d") }

  val allEntities: Seq[Entity] = persons ++ orgs ++ cities ++ countries ++ schools

  /** Flat entity dictionary rows for the J5 linking join. */
  def entityDictionary: Seq[EntityRecord] =
    allEntities.flatMap(e => e.surfaces.map(s => EntityRecord(s, e.ner, e.id)))

  /** Gazetteer for mention detection: token-joined lowercase surface →
    * NER type (ids resolved later by the linking stage, not here). */
  def gazetteer: Map[String, String] =
    allEntities.flatMap(e => e.surfaces.map(_ -> e.ner)).toMap

  // ---- sentence templates ---------------------------------------------------
  /** (pattern with {S}/{O} slots, relation, subject pool id, object pool id).
    * The relation label is the PLANTED truth used for corpus design; emitted
    * triples are defined by the frozen fixture scorer (SURVEY.md §7.3). */
  final case class Template(pattern: String, relation: String, subjPool: String, objPool: String)

  val templates: Seq[Template] = Seq(
    Template("{S} works for {O} .", "per:employee_of", "person", "org"),
    Template("{S} is the chief executive of {O} .", "org:top_members/employees", "person", "org"),
    Template("{S} married {O} in 1999 .", "per:spouse", "person", "person"),
    Template("{S} was born in {O} .", "per:city_of_birth", "person", "city"),
    Template("{S} lives in {O} with family .", "per:cities_of_residence", "person", "city"),
    Template("{S} moved to {O} last year .", "per:countries_of_residence", "person", "country"),
    Template("{S} is headquartered in {O} .", "org:city_of_headquarters", "org", "city"),
    Template("{S} operates mainly in {O} .", "org:country_of_headquarters", "org", "country"),
    Template("{S} founded {O} in 1987 .", "org:founded_by", "person", "org"),
    Template("{S} studied at {O} for four years .", "per:schools_attended", "person", "school"),
    Template("{S} is a subsidiary of {O} .", "org:subsidiaries", "org", "org"),
    Template("{S} died in {O} at age 77 .", "per:city_of_death", "person", "city"))

  val fillerSentences: Seq[String] = Seq(
    "the quarterly report was released on time .",
    "markets rallied after the announcement .",
    "officials declined to comment further .",
    "the committee will meet again next month .",
    "analysts expect growth to continue .",
    "the weather stayed mild through the season .",
    "several proposals remain under review .",
    "readers responded with mixed opinions .")

  /** All positive relations used by templates, plus extras to round out the
    * KBP-style label space; no_relation is id 0 (added first). */
  val relationInventory: Seq[String] =
    "no_relation" +: (templates.map(_.relation).distinct ++ Seq(
      "per:title", "per:origin", "per:date_of_birth", "per:children",
      "org:founded", "org:members", "per:parents", "per:siblings",
      "org:alternate_names", "per:alternate_names")).distinct

  val nerInventory: Seq[String] =
    Seq("O", "PERSON", "ORGANIZATION", "CITY", "COUNTRY", "DATE", "NUMBER", "MISC")

  /** Typecheck side-input rows (S7): each template relation is valid for its
    * template's NER pair; per:spouse additionally for (PERSON, PERSON) etc. */
  def typecheckRows: Seq[(String, String, String)] = {
    def nerOf(pool: String) = pool match {
      case "person" => "PERSON"
      case "org" | "school" => "ORGANIZATION"
      case "city" => "CITY"
      case "country" => "COUNTRY"
    }
    templates.map(t => (t.relation, nerOf(t.subjPool), nerOf(t.objPool))) ++ Seq(
      ("per:title", "PERSON", "O"),
      ("per:date_of_birth", "PERSON", "DATE"),
      ("org:founded", "ORGANIZATION", "DATE"))
  }

  // ---- vocab / side-input construction (driver-side, deterministic) ---------
  /** Frozen word vocab, Senna-style (reference: data/pretrain.py:7-24):
    * deterministic ordered wordlist = template words + entity-surface tokens
    * + NER blanking tokens + fillers; UNKNOWN is id 0. */
  def buildVocabs(): VocabSet = {
    val v = new VocabSet
    relationInventory.foreach(v.rel.add(_))
    nerInventory.foreach(v.ner.add(_)) // "O" already present as unk; add keeps order
    Seq("NN", "VBD", "IN", "DT", ",").foreach(v.pos.add(_))
    Seq("nsubj", "dobj", "nmod", "case", "compound", "root").foreach(a => v.dep.add(a))
    // word vocab: NER tokens first (blanking inserts them), then template +
    // filler tokens, then entity surface tokens, then zeroed-digit forms.
    nerInventory.foreach(v.word.add(_))
    (templates.map(_.pattern) ++ fillerSentences).foreach {
      _.split(" ").foreach(t => if (t != "{S}" && t != "{O}") v.word.add(Adaptors.zeroDigits(Seq(t)).head))
    }
    allEntities.foreach(_.surfaces.foreach(_.split(" ").foreach(v.word.add(_))))
    Seq("0000", "00").foreach(v.word.add(_))
    // arc tokens for the single-path featurizer's interleaved sequences
    chainArcs.foreach { a => v.word.add(a + "_from"); v.word.add(a + "_to") }
    // suffixed arcs + the concat featurizer's dep_from/dep_to fallbacks in
    // the DEP vocab (the concat arc channel resolves against v.dep; without
    // these every concat featurization missed and was silently skipped)
    chainArcs.foreach { a => v.dep.add(a + "_from"); v.dep.add(a + "_to") }
    Seq("root", "dep_from", "dep_to").foreach(v.dep.add(_))
    v
  }

  /** Arc inventory for generated chain dependency parses. */
  val chainArcs: Seq[String] =
    Seq("det", "nsubj", "dobj", "nmod", "case", "amod", "compound")

  /**
   * Labeled canonical example i (S3-eval-style): a template sentence with
   * gold relation and a deterministic chain dependency parse (token j's
   * parent is j+1; last token is root) — connected, so the single-path
   * featurizer always finds a path between the entity heads.
   */
  def labeledExample(seed: Long, i: Long): SentenceExample = {
    val rng = new Rng(seed * 0xD6E8FEB86659FD93L + i * 0x9E3779B97F4A7C15L + 5)
    val t = templates(rng.nextInt(templates.length))
    val subj = pickEntity(rng, t.subjPool)
    var obj = pickEntity(rng, t.objPool)
    var guard = 0
    while (subj.id == obj.id && guard < 5) { obj = pickEntity(rng, t.objPool); guard += 1 }
    val sSurf = surfaceOf(rng, subj).split(" ").toSeq
    val oSurf = surfaceOf(rng, obj).split(" ").toSeq
    val patToks = t.pattern.split(" ").toSeq
    val tokens = scala.collection.mutable.ArrayBuffer.empty[String]
    var sb = -1; var se = -1; var ob = -1; var oe = -1
    patToks.foreach {
      case "{S}" => sb = tokens.length; tokens ++= sSurf; se = tokens.length
      case "{O}" => ob = tokens.length; tokens ++= oSurf; oe = tokens.length
      case w => tokens += w
    }
    val words = Adaptors.zeroDigits(tokens.toSeq.map(Adaptors.asciiLower))
    val n = words.length
    val dependency = (0 until n).map { j =>
      if (j == n - 1) DepEdge(j, -1, "root")
      else DepEdge(j, j + 1, chainArcs(j % chainArcs.length))
    }
    def nerOf(pool: String) = pool match {
      case "person" => "PERSON"
      case "org" | "school" => "ORGANIZATION"
      case "city" => "CITY"
      case "country" => "COUNTRY"
    }
    val sNer = nerOf(t.subjPool); val oNer = nerOf(t.objPool)
    val ner = words.indices.map(j =>
      if (j >= sb && j < se) sNer else if (j >= ob && j < oe) oNer else "O")
    SentenceExample(words, words, words.map(_ => "NN"), ner, dependency,
      sb, se, words.slice(sb, se).mkString(" "), sNer,
      ob, oe, words.slice(ob, oe).mkString(" "), oNer,
      Some(t.relation), Some(subj.id), Some(obj.id))
  }

  // ---- page generation -------------------------------------------------------
  /** Zipf-ish pool pick: index 0 of `countries` is hot. */
  private def pickEntity(rng: Rng, pool: String): Entity = pool match {
    case "person" => persons(rng.nextInt(persons.length))
    case "org" => orgs(rng.nextInt(orgs.length))
    case "city" => cities(rng.nextInt(cities.length))
    case "school" => schools(rng.nextInt(schools.length))
    case "country" =>
      if (rng.nextDouble() < 0.75) countries(0) else countries(1 + rng.nextInt(countries.length - 1))
  }

  private def surfaceOf(rng: Rng, e: Entity): String = e.surfaces(rng.nextInt(e.surfaces.length))

  /** One generated sentence: a filler, or a template over two entities. */
  def sentence(rng: Rng): String =
    if (rng.nextDouble() < 0.35) fillerSentences(rng.nextInt(fillerSentences.length))
    else {
      val t = templates(rng.nextInt(templates.length))
      val subj = pickEntity(rng, t.subjPool)
      var obj = pickEntity(rng, t.objPool)
      var guard = 0
      while (subj.id == obj.id && guard < 5) { obj = pickEntity(rng, t.objPool); guard += 1 }
      if (subj.id == obj.id) fillerSentences(0)
      else t.pattern.replace("{S}", surfaceOf(rng, subj)).replace("{O}", surfaceOf(rng, obj))
    }

  /** Page i of the corpus — pure function of (seed, i). `withText=false`
    * skips the text-column extraction (for fused in-memory pipelines where
    * the scoring kernel re-extracts from html anyway); a pages TABLE at
    * rest must be generated with `withText=true` (input-hint shape). */
  def page(seed: Long, i: Long, withText: Boolean = true): Page = {
    val rng = new Rng(seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL + 1)
    val nSent = 3 + rng.nextInt(6)
    val sents = Seq.fill(nSent)(sentence(rng))
    val paras = sents.map(s => s"  <p>$s</p>").mkString("\n")
    val html =
      s"""<html><head><title>doc $i</title>
         |<script>var x = $i; // tracking</script>
         |<style>p { margin: 0; }</style></head>
         |<body>
         |<h1>synthetic page $i</h1>
         |$paras
         |<div class="footer">&copy; 0000 example &amp; co.</div>
         |</body></html>""".stripMargin
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val text = if (withText) TextExtract.extract(bytes) else ""
    val ts = new java.sql.Timestamp(1420070400000L + (i % 31536000L) * 1000L) // 2015 epoch window
    Page(s"https://example.org/crawl/$i", ts, bytes, text, "en")
  }
}
