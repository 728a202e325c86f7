package perfbench

import scala.util.Random

/** Seeded input generator for every workload. The same seed always yields
  * the same documents and queries (java.util.Random underneath), and the
  * engine only ever sees the generated texts, never the seed.
  */
object Gen {

  final case class Doc(id: Long, text: String)

  /** Lower-case legal prose vocabulary; word lengths span 1-5 subword
    * tokens so the chunker's token budget sees realistic word costs.
    */
  private val Words = Array(
    "court", "appellant", "appellee", "petitioner", "respondent", "defendant",
    "plaintiff", "jury", "trial", "judgment", "statute", "provision",
    "constitutional", "amendment", "evidence", "testimony", "witness",
    "motion", "summary", "dismiss", "reverse", "affirm", "remand", "opinion",
    "dissent", "concurring", "majority", "holding", "precedent", "doctrine",
    "jurisdiction", "venue", "standing", "claim", "damages", "injunction",
    "contract", "breach", "negligence", "liability", "reasonable", "standard",
    "review", "de", "novo", "abuse", "discretion", "clearly", "erroneous",
    "finding", "fact", "law", "question", "issue", "argument", "brief",
    "record", "district", "circuit", "appeal", "appellate", "proceeding",
    "hearing", "order", "decree", "sentence", "conviction", "indictment",
    "counsel", "attorney", "prosecutor", "government", "state", "federal",
    "agency", "regulation", "interpretation", "plain", "meaning", "text",
    "legislative", "history", "purpose", "intent", "the", "of", "and", "to",
    "in", "that", "is", "was", "for", "on", "with", "as", "by", "not", "be",
    "this", "we", "it", "which", "under", "because", "whether", "would",
    "must", "may", "shall", "however", "therefore", "accordingly", "moreover",
    "thus", "although", "unless", "pursuant", "notwithstanding", "herein",
    "thereof", "whereas", "section", "subsection", "paragraph", "clause",
    "property", "title", "possession", "tenant", "landlord", "lease",
    "employment", "employer", "employee", "discrimination", "retaliation",
    "termination", "wages", "benefits", "insurance", "coverage", "policy",
    "exclusion", "arbitration", "agreement", "settlement", "class", "action",
    "certification", "discovery", "privilege", "sanctions", "fees", "costs",
    "habeas", "corpus", "petition", "certiorari", "writ", "mandamus",
    "suppression", "search", "seizure", "warrant", "probable", "cause",
    "miranda", "custody", "interrogation", "confession", "due", "process",
    "equal", "protection", "speech", "religion", "commerce", "taxation",
    "bankruptcy", "creditor", "debtor", "estate", "trust", "fiduciary",
    "securities", "fraud", "misrepresentation", "reliance", "materiality",
    "antitrust", "patent", "infringement", "trademark", "copyright",
    "administrative", "procedure", "arbitrary", "capricious", "substantial",
    "deference", "preemption", "sovereign", "immunity", "qualified")

  private val Names = Array(
    "Smith", "Jones", "Brown", "Johnson", "Williams", "Miller", "Davis",
    "Garcia", "Rodriguez", "Wilson", "Martinez", "Anderson", "Taylor",
    "Thomas", "Hernandez", "Moore", "Martin", "Jackson", "Thompson", "White",
    "Lopez", "Lee", "Gonzalez", "Harris", "Clark", "Lewis", "Robinson")

  private val Reporters = Array("U.S.", "F.3d", "F.2d", "F. Supp. 2d", "S. Ct.",
    "L. Ed. 2d", "Cal. App. 4th", "N.E.2d", "So. 3d", "P.3d")

  /** Sentence-level forms the splitter must treat specially: citations,
    * "v.", "No.", "U.S.", "Id.", honorifics and corporate suffixes.
    */
  private def citation(r: Random): String = {
    val a = Names(r.nextInt(Names.length)); val b = Names(r.nextInt(Names.length))
    val vol = 1 + r.nextInt(900); val page = 1 + r.nextInt(1500)
    s"$a v. $b, $vol ${Reporters(r.nextInt(Reporters.length))} $page, ${page + r.nextInt(30)} (${1950 + r.nextInt(74)})"
  }

  private def words(r: Random, n: Int, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
  }

  private def capitalizeAt(sb: java.lang.StringBuilder, at: Int): Unit =
    if (at < sb.length) sb.setCharAt(at, Character.toUpperCase(sb.charAt(at)))

  private def sentence(r: Random, sb: java.lang.StringBuilder): Unit = {
    val start = sb.length
    r.nextInt(20) match {
      case 0 => sb.append("See "); sb.append(citation(r)); sb.append('.')
      case 1 => sb.append("Id. at "); sb.append(1 + r.nextInt(900)); sb.append('.')
      case 2 =>
        sb.append("In No. "); sb.append(10 + r.nextInt(90)); sb.append('-')
        sb.append(1000 + r.nextInt(9000)); sb.append(", Mr. ")
        sb.append(Names(r.nextInt(Names.length))); sb.append(' ')
        words(r, 6 + r.nextInt(14), sb); sb.append('.')
      case 3 =>
        sb.append("The U.S. Court of Appeals held that ")
        words(r, 8 + r.nextInt(20), sb); sb.append(". ")
        sb.append(Names(r.nextInt(Names.length))); sb.append(" Corp. and Dr. ")
        sb.append(Names(r.nextInt(Names.length))); sb.append(' ')
        words(r, 5 + r.nextInt(10), sb); sb.append('.')
      case 4 if r.nextInt(8) == 0 =>
        // over-long quoted sentence: far beyond the 512-token budget, so
        // the chunker takes its truncation branch
        sb.append('"'); words(r, 450 + r.nextInt(400), sb); capitalizeAt(sb, start + 1)
        sb.append(".\"")
      case _ =>
        words(r, 8 + r.nextInt(28), sb); capitalizeAt(sb, start)
        if (r.nextInt(6) == 0) { sb.append(", citing "); sb.append(citation(r)) }
        sb.append(if (r.nextInt(25) == 0) '?' else '.')
    }
  }

  /** One opinion-like document of at least `targetChars` characters:
    * a caption, then paragraphs of 3-8 sentences separated by blank lines.
    */
  private def opinion(r: Random, targetChars: Int): String = {
    val sb = new java.lang.StringBuilder(targetChars + 4096)
    sb.append("UNITED STATES COURT OF APPEALS\nNo. ")
    sb.append(10 + r.nextInt(90)); sb.append('-'); sb.append(1000 + r.nextInt(9000))
    sb.append("\n\n")
    while (sb.length < targetChars) {
      val n = 3 + r.nextInt(6)
      var i = 0
      while (i < n) { if (i > 0) sb.append(' '); sentence(r, sb); i += 1 }
      sb.append("\n\n")
    }
    sb.toString.trim
  }

  val OpinionMedianChars = 24000
  val OpinionSigma = 1.0
  val OpinionMaxChars = 1000000
  val OpinionMinChars = 1500
  val DuplicateShare = 0.03

  private val StdNormal = new org.apache.commons.math3.distribution.NormalDistribution(0, 1)

  /** `count` opinions with log-normal lengths (median
    * [[OpinionMedianChars]], clipped to [[OpinionMaxChars]]); about
    * [[DuplicateShare]] of them are exact copies of an earlier one. The
    * lengths are stratified: document i gets the length at a seeded point
    * of its own 1/count quantile slot, in seeded order. So every seed has
    * the same length distribution, long tail included, and the seed
    * changes texts, order and the exact lengths.
    */
  def opinions(seed: Long, count: Int): Vector[Doc] = {
    val r = new Random(seed)
    val slots = r.shuffle((0 until count).toVector)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    Vector.tabulate(count) { i =>
      val text =
        if (texts.nonEmpty && r.nextDouble() < DuplicateShare) texts(r.nextInt(texts.length))
        else {
          val z = StdNormal.inverseCumulativeProbability((slots(i) + r.nextDouble()) / count)
          val len = OpinionMedianChars * math.exp(OpinionSigma * z)
          opinion(r, math.max(OpinionMinChars, math.min(OpinionMaxChars, len)).toInt)
        }
      texts += text
      Doc(i.toLong, text)
    }
  }

  /** Splits documents into `n` batches of nearly equal size in characters
    * (largest first, each to the lightest batch), the way a bulk loader
    * packs requests; each batch keeps id order.
    */
  def batches(docs: Vector[Doc], n: Int): Vector[Vector[Doc]] = {
    val bins = Array.fill(n)(Vector.newBuilder[Doc])
    val load = new Array[Long](n)
    docs.sortBy(d => (-d.text.length, d.id)).foreach { d =>
      val b = load.indices.minBy(load(_))
      bins(b) += d
      load(b) += math.max(1, d.text.length)
    }
    bins.toVector.map(_.result().sortBy(_.id))
  }

  val InvalidShare = 0.02
  val BoilerplateShare = 0.5
  val BoilerplatePool = 64

  private val DocketKinds = Array("ORDER granting", "ORDER denying", "MOTION for",
    "NOTICE of", "MINUTE ENTRY for", "STIPULATION re", "MEMORANDUM in Support of")

  private def docketEntry(r: Random): String = {
    val target = 100 + r.nextInt(501)
    val sb = new java.lang.StringBuilder(target + 64)
    sb.append(DocketKinds(r.nextInt(DocketKinds.length))); sb.append(' ')
    // the closing clause adds at least 46 characters
    while (sb.length < target - 46) { sb.append(Words(r.nextInt(Words.length))); sb.append(' ') }
    sb.append("filed by "); sb.append(Names(r.nextInt(Names.length)))
    sb.append(". Signed by Judge "); sb.append(Names(r.nextInt(Names.length)))
    sb.append(s" on ${1 + r.nextInt(12)}/${1 + r.nextInt(28)}/${2000 + r.nextInt(25)}.")
    val s = sb.toString
    if (s.length > 600) s.substring(0, 600).trim else s
  }

  private val Blank = Array("", " ", "   ", "\n", "\t \n ", "\n\n\n")

  /** Short docket-entry texts of 100-600 chars: about [[BoilerplateShare]]
    * are exact repeats from a pool of [[BoilerplatePool]] entries, and
    * [[InvalidShare]] are planted empty or whitespace-only texts that
    * validation must route out. Returns the docs and the planted ids.
    */
  def snippets(seed: Long, count: Int): (Vector[Doc], Set[Long]) = {
    val r = new Random(seed)
    val pool = Array.fill(BoilerplatePool)(docketEntry(r))
    val invalid = Set.newBuilder[Long]
    val docs = Vector.tabulate(count) { i =>
      val u = r.nextDouble()
      val text =
        if (u < InvalidShare) { invalid += i.toLong; Blank(r.nextInt(Blank.length)) }
        else if (u < InvalidShare + BoilerplateShare) pool(r.nextInt(pool.length))
        else docketEntry(r)
      Doc(i.toLong, text)
    }
    (docs, invalid.result())
  }

  /** Distinct 5-30-word search queries. */
  def queries(seed: Long, count: Int): Vector[String] = {
    val r = new Random(seed)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < count) {
      val sb = new java.lang.StringBuilder
      words(r, 5 + r.nextInt(26), sb)
      seen += sb.toString
    }
    seen.toVector
  }

  /** Order-independent digest of a document set, for determinism checks. */
  def digest(docs: Seq[Doc]): Long =
    docs.foldLeft(0L)((acc, d) => acc + Digest.mix(d.id * 31 + d.text.hashCode))
}

/** Order-independent digests: each element is mixed, then summed. */
object Digest {
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Digest of one output chunk: doc id, position, text and vector bits. */
  def chunk(docId: Long, chunkNumber: Int, chunk: String, vec: Array[Float]): Long = {
    var h = mix(docId * 1000003L + chunkNumber) ^ chunk.hashCode.toLong
    var i = 0
    while (i < vec.length) {
      h = mix(h ^ java.lang.Float.floatToRawIntBits(vec(i)).toLong)
      i += 1
    }
    h
  }
}
