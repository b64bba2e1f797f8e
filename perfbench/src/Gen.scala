package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * parameters and seed: the same seed gives byte-identical inputs, and
  * graft only ever sees the files or rows generated here.
  */
object Gen {

  // ---------------------------------------------------------------------
  // TopCV-shaped HTML job-card pages with day-over-day churn
  // ---------------------------------------------------------------------

  /** Parameters of the crawl generator. Volumes follow the reference
    * (10 pages × ~25 cards a day, ≥ 50 jobs, duplicate rate < 20 %);
    * the churn shares are an assumption, not measured traffic.
    */
  case class CrawlParams(
    backfillJobs: Int = 300,
    incrementalDays: Int = 2,
    pagesPerDay: Int = 10,
    cardsPerPage: Int = 25,
    companies: Int = 80,
    // shares of an incremental day's card slots (rest: re-crawled unchanged)
    newShare: Double = 0.15,
    titleRevisionShare: Double = 0.08,
    salaryRevisionShare: Double = 0.07,
    duplicateShare: Double = 0.04,
    noCompanyShare: Double = 0.02,
    noIdShare: Double = 0.01,
    multiCityShare: Double = 0.2,
    expiringShare: Double = 0.1,
    firstDay: String = "2025-03-03")

  /** One job as the crawler sees it on one day. */
  case class Job(id: Long, titleBase: String, titleVariant: Int,
                 companyIdx: Int, salary: String, location: String,
                 skills: Seq[String], deadline: Int, updated: String)

  /** One generated day: its date, pages (HTML strings), and the facts
    * the checks derive from the generator rather than from graft.
    */
  case class Day(date: String, pages: Seq[String],
                 cumulativeValidIds: Int, cards: Int,
                 titleRevisions: Map[Long, Int])

  private val Roles = Seq("Backend Developer", "Frontend Developer",
    "Data Engineer", "Data Analyst", "QA Engineer", "DevOps Engineer",
    "Mobile Developer", "Business Analyst", "Project Manager",
    "Fullstack Developer", "Machine Learning Engineer", "System Admin",
    "Kế Toán Tổng Hợp", "Nhân Viên Kinh Doanh", "Chuyên Viên Tuyển Dụng")
  private val Techs = Seq("Java", "Python", "PHP", "NodeJS", "ReactJS",
    "Golang", ".NET", "C++", "SQL", "AWS", "Flutter", "Kotlin", "")
  private val Levels = Seq("", "Junior ", "Senior ", "Middle ", "Lead ")
  private val Variants = Seq("", " (Hybrid)", " (Remote)", " (Onsite)",
    " (Full-time)", " (Part-time)")
  private val Tails = Seq("", "", "", " - Thu Nhập Upto 40 Triệu",
    " - Lương Cạnh Tranh", " [Hà Nội]")
  private val Skills = Seq("Java", "Python", "SQL", "Spark", "Docker",
    "Kubernetes", "AWS", "React", "Vue", "Angular", "Git", "Linux",
    "Excel", "Tiếng Anh", "Giao tiếp", "Kafka", "Airflow", "PostgreSQL",
    "MongoDB", "Redis", "Figma", "Scrum", "CI/CD", "TypeScript", "Go")
  private val Cities = Seq("Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Hải Phòng",
    "Cần Thơ", "Bình Dương", "Đồng Nai", "Bắc Ninh", "Huế", "Nghệ An")
  private val Foreign = Seq("Nhật Bản", "Singapore", "Hàn Quốc")
  private val CompanyWords = Seq("Công ty TNHH", "Công ty CP", "Tập đoàn",
    "JSC", "Ngân hàng TMCP")
  private val CompanyNames = Seq("Phần Mềm", "Công Nghệ", "Giải Pháp Số",
    "Thương Mại", "Dịch Vụ", "Viễn Thông", "Tài Chính", "Bán Lẻ")

  /** A salary string from every branch of graft's salary ladder. */
  private def salary(r: scala.util.Random): String = r.nextInt(12) match {
    case 0 => "Thỏa thuận"
    case 1 => "Cạnh tranh"
    case 2 => "0.0 - 0.0 triệu"
    case 3 => s"${1 + r.nextInt(3)},${r.nextInt(10)}00 - ${4 + r.nextInt(3)},000 USD"
    case 4 => s"Tới ${1000 + 100 * r.nextInt(30)} USD"
    case 5 => s"Tới ${15 + r.nextInt(40)} triệu"
    case 6 => s"Từ ${8 + r.nextInt(20)} triệu"
    case 7 => s"${500 + 50 * r.nextInt(20)} USD"
    case 8 => s"${10 + r.nextInt(30)} triệu"
    case 9 => s"${7 + r.nextInt(5)},5 - ${15 + r.nextInt(20)} triệu"
    case _ =>
      val lo = 8 + r.nextInt(25)
      s"$lo - ${lo + 3 + r.nextInt(20)} triệu"
  }

  private def location(r: scala.util.Random, p: CrawlParams): String = {
    // Hà Nội / Hồ Chí Minh dominate, so the city views never come back empty
    def city() = if (r.nextDouble() < 0.6) Cities(r.nextInt(2))
                 else Cities(r.nextInt(Cities.size))
    val u = r.nextDouble()
    if (u < 0.04) Foreign(r.nextInt(Foreign.size))
    else if (u < 0.04 + p.multiCityShare) {
      val a = city(); var b = city()
      while (b == a) b = Cities(r.nextInt(Cities.size))
      s"$a & $b"
    } else city()
  }

  private def updated(r: scala.util.Random): String = r.nextInt(4) match {
    case 0 => s"Cập nhật ${1 + r.nextInt(59)} phút trước"
    case 1 => s"Cập nhật ${1 + r.nextInt(23)} giờ trước"
    case 2 => s"Cập nhật ${1 + r.nextInt(6)} ngày trước"
    case _ => s"Cập nhật ${1 + r.nextInt(3)} tuần trước"
  }

  private def newJob(id: Long, r: scala.util.Random, p: CrawlParams): Job = {
    val tech = Techs(r.nextInt(Techs.size))
    val base = (Levels(r.nextInt(Levels.size)) +
      Roles(r.nextInt(Roles.size)) + (if (tech.isEmpty) "" else " " + tech)).trim
    val nSkills = 1 + r.nextInt(4)
    Job(id, base, 0, r.nextInt(p.companies), salary(r), location(r, p),
      r.shuffle(Skills).take(nSkills),
      if (r.nextDouble() < p.expiringShare) r.nextInt(3) else 3 + r.nextInt(57),
      updated(r))
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")

  private def companyName(i: Int): String =
    s"${CompanyWords(i % CompanyWords.size)} ${CompanyNames(i % CompanyNames.size)} Số $i"

  /** The card markup `graft.ingest.HtmlParser` reads (the template of
    * the `ingest_parse` gate, with every optional field filled in).
    * `dropCompany` / `dropId` produce the malformed variants.
    */
  def card(j: Job, tail: String, dropCompany: Boolean = false,
           dropId: Boolean = false): String = {
    val title = j.titleBase + Variants(j.titleVariant % Variants.size) + tail
    val idAttr = if (dropId) "" else s""" data-job-id="${j.id}""""
    val href = if (dropId) "/viec-lam/tin-tuyen-dung-moi.html"
               else s"/viec-lam/${j.titleBase.toLowerCase.replace(' ', '-')}-${j.id}.html"
    val c = j.companyIdx
    val company =
      if (dropCompany) ""
      else s"""<a class="company" href="/cong-ty/c$c">${esc(companyName(c))}</a>"""
    val logo = s"""<img src="https://cdn.topcv.vn/logo/c$c.png" alt="logo">"""
    val vip = if (c % 3 == 0) """<span class="vip-badge">PRO</span>""" else ""
    val skills = j.skills.map(s => s"""<label class="item">${esc(s)}</label>""").mkString
    s"""<div class="job-item-2 job-ta"$idAttr>
       |  <div class="avatar">$logo</div>
       |  <h3 class="title"><a href="$href"><span data-original-title="${esc(title)}">${esc(title.take(20))}</span></a></h3>
       |  $company$vip
       |  <label class="title-salary">${esc(j.salary)}</label>
       |  <label class="address">${esc(j.location)}</label>
       |  <div class="skills">$skills</div>
       |  <label class="time"><strong>${j.deadline}</strong></label>
       |  <label class="deadline">${j.updated}</label>
       |</div>""".stripMargin
  }

  /** All days of one crawl timeline: a bulk backfill of the full market
    * followed by `incrementalDays` days of churn at crawl volume.
    */
  def crawl(seed: Long, p: CrawlParams): Seq[Day] = {
    val r = new scala.util.Random(seed * 7919L + 17L)
    val jobs = mutable.LinkedHashMap[Long, Job]()
    var nextId = 40000000L + r.nextInt(1000000)
    val seenValid = mutable.Set[Long]()
    val revisions = mutable.Map[Long, Int]().withDefaultValue(0)
    def tail() = Tails(r.nextInt(Tails.size))
    def paginate(cards: Seq[String]): Seq[String] =
      cards.grouped(p.cardsPerPage).map(cs =>
        s"""<html><body><div class="job-list">\n${cs.mkString("\n")}\n</div></body></html>""")
        .toSeq

    val first = java.time.LocalDate.parse(p.firstDay)
    (0 to p.incrementalDays).map { d =>
      val slots = if (d == 0) p.backfillJobs else p.pagesPerDay * p.cardsPerPage
      val cards = mutable.ArrayBuffer[String]()
      val today = mutable.ArrayBuffer[String]()   // cards already on today's pages
      val touched = mutable.Set[Long]()           // one card per job per day
      def emit(j: Job): Unit = {
        val c = card(j, tail())
        cards += c; today += c
        seenValid += j.id; touched += j.id
      }
      def fresh(): Unit = {
        val j = newJob(nextId, r, p); nextId += 1 + r.nextInt(3)
        jobs(j.id) = j; emit(j)
      }
      val active = jobs.keys.toIndexedSeq
      for (_ <- 0 until slots) {
        val u = r.nextDouble()
        var acc = 0.0
        def band(share: Double): Boolean = { acc += share; u < acc }
        if (band(p.noIdShare))
          cards += card(newJob(0L, r, p), "", dropId = true)
        else if (band(p.duplicateShare) && today.nonEmpty)
          cards += today(r.nextInt(today.size))
        else if (band(p.noCompanyShare)) {
          // parsed and staged, but invalid for the crawl gate's valid rate
          val j = newJob(nextId, r, p); nextId += 1
          jobs(j.id) = j
          cards += card(j, "", dropCompany = true)
          seenValid += j.id; touched += j.id
        } else if (d == 0 || band(p.newShare) || active.isEmpty) fresh()
        else {
          // pick an existing job not yet crawled today
          var id = active(r.nextInt(active.size)); var tries = 0
          while (touched.contains(id) && tries < 8) {
            id = active(r.nextInt(active.size)); tries += 1
          }
          if (touched.contains(id)) fresh()
          else {
            val j0 = jobs(id)
            val j =
              if (band(p.titleRevisionShare)) {
                revisions(id) += 1
                j0.copy(titleVariant = j0.titleVariant + 1)
              } else if (band(p.salaryRevisionShare)) j0.copy(salary = salary(r))
              else j0
            jobs(id) = j
            emit(j)
          }
        }
      }
      Day(first.plusDays(d).toString, paginate(cards.toSeq),
        seenValid.size, cards.size, revisions.toMap)
    }
  }

  def writePages(dir: Path, day: Day): Unit = {
    Files.createDirectories(dir)
    day.pages.zipWithIndex.foreach { case (html, i) =>
      Files.writeString(dir.resolve(f"page_${i + 1}%03d.html"), html)
    }
  }

  // ---------------------------------------------------------------------
  // Text corpus with injected exact and near duplicates
  // ---------------------------------------------------------------------

  /** Corpus parameters. Documents follow the testdata `documents` table's
    * schema and style (space-joined words over a Zipf vocabulary, a
    * `lang` and `source` tag); the duplicate rates are stated, so the
    * dedup checks know how many copies they must remove.
    */
  case class CorpusParams(docs: Int = 800, vocab: Int = 1500,
                          exactDupRate: Double = 0.06,
                          nearDupRate: Double = 0.06,
                          shortDocRate: Double = 0.05,
                          noisyDocRate: Double = 0.03)

  case class Doc(docId: Long, text: String, lang: String, source: String)

  /** Generated corpus plus the injected exact-duplicate pairs
    * (original id, copy id).
    */
  case class Corpus(docs: Seq[Doc], exactPairs: Seq[(Long, Long)])

  private val Stop = Seq("the", "of", "and", "to", "a", "in", "that", "with",
    "be", "have", "for", "on", "is", "it", "as")

  private def vocabulary(r: scala.util.Random, n: Int): IndexedSeq[String] = {
    val on = "bcdfghjklmnprstvwz"; val vw = "aeiou"
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 1 + r.nextInt(3)
      seen += (0 until syl).map(_ =>
        s"${on(r.nextInt(on.length))}${vw(r.nextInt(vw.length))}" +
          (if (r.nextBoolean()) on(r.nextInt(on.length)).toString else "")).mkString
    }
    seen.toIndexedSeq
  }

  def corpus(seed: Long, p: CorpusParams): Corpus = {
    val r = new scala.util.Random(seed * 104729L + 3L)
    val vocab = vocabulary(r, p.vocab)
    // Zipf(1.0) over the vocabulary via an inverse-CDF table
    val cdf = {
      val w = (1 to vocab.size).map(k => 1.0 / k)
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    def word(): String =
      if (r.nextDouble() < 0.25) Stop(r.nextInt(Stop.size))
      else {
        val u = r.nextDouble()
        var i = java.util.Arrays.binarySearch(cdf, u)
        if (i < 0) i = -i - 1
        vocab(math.min(i, vocab.size - 1))
      }
    def text(): String = {
      val short = r.nextDouble() < p.shortDocRate
      val n = if (short) 10 + r.nextInt(30) else 60 + r.nextInt(240)
      val noisy = r.nextDouble() < p.noisyDocRate
      val words = (0 until n).map { _ =>
        if (noisy && r.nextDouble() < 0.5) s"#${r.nextInt(99999)}!?" else word()
      }
      // a few paragraph breaks so the line rules see layout
      words.grouped(20 + r.nextInt(40)).map(_.mkString(" ")).mkString("\n")
    }
    def lang() = { val u = r.nextDouble()
      if (u < 0.7) "en" else if (u < 0.85) "vi" else if (u < 0.95) "de" else "fr" }
    val docs = mutable.ArrayBuffer[Doc]()
    val exact = mutable.ArrayBuffer[(Long, Long)]()
    var id = 0L
    while (docs.size < p.docs) {
      val u = r.nextDouble()
      if (docs.nonEmpty && u < p.exactDupRate) {
        val o = docs(r.nextInt(docs.size))
        exact += ((o.docId, id)); docs += o.copy(docId = id)
      } else if (docs.nonEmpty && u < p.exactDupRate + p.nearDupRate) {
        // a near-duplicate: the same text with ~3% of its words replaced
        val o = docs(r.nextInt(docs.size))
        val t = o.text.split(" ", -1).map(w =>
          if (r.nextDouble() < 0.03) word() else w).mkString(" ")
        docs += o.copy(docId = id, text = t)
      } else docs += Doc(id, text(), lang(), s"src${r.nextInt(5)}")
      id += 1
    }
    Corpus(docs.toSeq, exact.toSeq)
  }

  // ---------------------------------------------------------------------
  // Clustered embeddings
  // ---------------------------------------------------------------------

  case class VectorParams(corpus: Int = 4000, queries: Int = 256,
                          dim: Int = 64, clusters: Int = 400,
                          noise: Double = 0.15)

  /** Unit-norm vectors around `clusters` random centres (corpus ids from
    * 0, held-out query ids from 10^6, so no query is its own neighbour).
    */
  def vectors(seed: Long, p: VectorParams)
      : (Seq[(Long, Array[Float])], Seq[(Long, Array[Float])]) = {
    val r = new scala.util.Random(seed * 15485863L + 11L)
    val centres = Array.fill(p.clusters, p.dim)(r.nextGaussian())
    def draw(): Array[Float] = {
      val c = centres(r.nextInt(p.clusters))
      val v = Array.tabulate(p.dim)(j => c(j) + p.noise * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val corpus = (0 until p.corpus).map(i => (i.toLong, draw()))
    val queries = (0 until p.queries).map(i => (1000000L + i, draw()))
    (corpus, queries)
  }
}
