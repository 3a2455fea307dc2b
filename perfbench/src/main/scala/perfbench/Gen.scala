package perfbench

import scala.util.Random
import scala.util.hashing.MurmurHash3

/** Seeded input generator. Everything a workload feeds the program comes
  * from here, as plain rows, so the same seed gives the same drops and the
  * program sees only the files the benchmark writes from them.
  *
  * Korean business documents plant values in the detector's published
  * grammar (`graft.core.PiiPatterns`), one value per chosen category, and
  * keep a manifest of what they planted. Each planted value occurs exactly
  * once in its document, so "the value is absent from the scrubbed text" is
  * an exact test of the scrub. Fixture pages imitate the `sf0.1` test
  * `documents` table (30-word vocabulary, 10 to 100 words, five language
  * labels) and carry PII only where `SyntheticPages.piiText` adds it.
  */
object Gen {

  /** Category indices follow `graft.core.PiiCategories`. */
  final case class KoDoc(text: String, planted: Seq[(Int, String)])

  /** Planted values per Korean document, categories drawn without
    * replacement from the 12. */
  val PiiPerDoc = 8

  def rng(seed: Long, stream: String, index: Long): Random =
    new Random(MurmurHash3.stringHash(s"$stream/$index", seed.toInt) * 0x9E3779B97F4A7C15L + seed)

  private val surnames = "김이박최정강조윤장임한오서신권황안송류홍전고문양손배백허유남심노하곽성차주우구민진지엄채원천방공현함변염여추도소석선설마길연위표명기반왕금옥육인맹제모탁국어은편용예경봉사부황보"
    .toSeq.map(_.toString).distinct
  private val givenSyllables = "민서준지현우예도윤하은수영주원진성재호연경태훈혜선미정희승동석철규상아나람빈솔별찬율온결휘".toSeq.map(_.toString)
  private val nameLabels = Seq("성명", "담당자", "신청자", "작성자", "계약자", "보호자", "수익자",
    "참석자", "대표자", "승인자", "임차인", "청구인")
  private val provinces = Seq("서울특별시", "부산광역시", "대구광역시", "인천광역시", "광주광역시",
    "대전광역시", "울산광역시", "세종특별자치시", "경기도", "강원특별자치도", "충청북도", "전라남도")
  private val cities = Seq("강남구", "서초구", "마포구", "해운대구", "수성구", "연수구", "북구",
    "유성구", "남구", "수원시", "성남시", "춘천시", "청주시", "여수시")
  private val roads = Seq("테헤란", "세종대", "올림픽", "중앙", "번영", "가람", "한누리", "달구벌대",
    "문화", "평화", "대학", "시청")
  private val dongs = Seq("역삼동", "정자동", "우동", "범어동", "송도동", "봉명동", "삼산동", "신림동")
  private val emailUsers = Seq("minjun", "seoyeon", "jiho", "haeun", "dohyun", "yuna", "sungmin",
    "jiwoo", "hyejin", "taeyang", "eunji", "kyungho")
  private val emailDomains = Seq("naver.com", "gmail.com", "daum.net", "kakao.com", "hanmail.net",
    "nate.com", "corp.co.kr", "mail.go.kr")
  private val banks = Seq("국민은행", "신한은행", "우리은행", "하나은행", "농협은행", "기업은행")
  private val plateLetters = "가나다라마거너더러머버서어저고노도로모보소오조구누두루무부수우주".toSeq.map(_.toString)

  /** Prose vocabulary: digit-free, label-free business Korean, so prose can
    * never complete a PII grammar on its own. */
  private val proseWords = Seq("회의", "결과", "보고", "진행", "관련", "내용", "확인", "요청",
    "검토", "일정", "부서", "업무", "계획", "예산", "자료", "사항", "처리", "완료", "예정",
    "고객", "서비스", "제품", "품질", "개선", "운영", "관리", "데이터", "분석", "결정", "협의",
    "안내", "변경", "추가", "답변", "기간", "조건", "지급", "금액", "비용", "정산", "납품",
    "배송", "교육", "평가", "채용", "지원", "등록", "발급", "갱신", "보험", "진료", "검사",
    "과제", "성적", "일정을", "내용을", "결과를", "자료를", "검토하고", "진행하며", "확인하여",
    "요청드립니다", "안내드립니다", "완료되었습니다", "예정입니다", "바랍니다", "하였습니다",
    "있습니다", "없습니다", "필요합니다", "공유합니다", "참고하시기", "문의하시면", "처리되며",
    "신속하게", "정확하게", "추가로", "다음", "이번", "지난", "전체", "일부", "주요", "세부",
    "최종", "기존", "신규", "내부", "외부", "본사", "지사", "현장", "사업", "프로젝트",
    "협력", "계열사", "법무", "재무", "회계", "구매", "영업", "마케팅", "연구", "개발")
  private val titles = Seq("인사기록카드", "고객 상담 기록", "임대차 계약서", "보험금 청구서",
    "배송 요청서", "출장 보고서", "환불 처리 요청", "회원 가입 신청서", "진료 예약 확인서",
    "채용 지원서")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))
  private def digits(r: Random, n: Int): String =
    (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString
  private def nonZero(r: Random, n: Int): String =
    (0 until n).map(_ => ('1' + r.nextInt(9)).toChar).mkString

  private def prose(r: Random, words: Int): String =
    (0 until words).map(_ => pick(r, proseWords)).mkString(" ") + "."

  /** One (line, planted value) pair in category `cat`'s grammar. The value
    * is exactly the substring the detector reports (or a substring of its
    * span), and the line puts a space or line end on both sides of it. */
  private def plantLine(r: Random, cat: Int): (String, String) = cat match {
    case 0 =>
      val v = pick(r, surnames) + (1 to 1 + r.nextInt(2)).map(_ => pick(r, givenSyllables)).mkString
      (s"${pick(r, nameLabels)}: $v", v)
    case 1 =>
      val v =
        if (r.nextBoolean())
          s"${pick(r, provinces)} ${pick(r, cities)} ${pick(r, roads)}로 ${1 + r.nextInt(400)}"
        else
          s"${pick(r, provinces)} ${pick(r, cities)} ${pick(r, dongs)} ${1 + r.nextInt(900)}-${1 + r.nextInt(30)}"
      (s"주소: $v", v)
    case 2 =>
      val v = f"${r.nextInt(90) + 10}%02d${r.nextInt(12) + 1}%02d${r.nextInt(28) + 1}%02d-${1 + r.nextInt(4)}${digits(r, 6)}"
      (s"주민등록번호: $v", v)
    case 3 =>
      val v = s"${pick(r, Seq("M", "S"))}${nonZero(r, 8)}"
      (s"여권번호: $v", v)
    case 4 =>
      val v = f"${11 + r.nextInt(18)}%02d-${r.nextInt(90) + 10}%02d-${nonZero(r, 6)}-${r.nextInt(90) + 10}%02d"
      (s"운전면허번호: $v", v)
    case 5 =>
      val v = s"${pick(r, emailUsers)}${r.nextInt(1000)}@${pick(r, emailDomains)}"
      (s"이메일: $v", v)
    case 6 =>
      // public first octets only: private ranges are dropped in some
      // contexts and the well-known resolvers are excluded by design
      val v = s"${pick(r, Seq(14, 27, 49, 58, 61, 112, 121, 175, 203, 211, 218, 222))}." +
        s"${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      (s"접속 IP: $v", v)
    case 7 =>
      val v =
        // the middle block never starts with 1: "15xx-xxxx" would read as a
        // service number, which the detector deliberately leaves alone
        if (r.nextBoolean()) s"010-${2 + r.nextInt(8)}${digits(r, 3)}-${digits(r, 4)}"
        else s"0${pick(r, Seq("2", "31", "51", "62"))}-${nonZero(r, 3)}-${digits(r, 4)}"
      (s"연락처: $v", v)
    case 8 =>
      val v = s"${nonZero(r, 3)}-${digits(r, 3)}-${digits(r, 6)}"
      if (r.nextBoolean()) (s"입금계좌: $v", v) else (s"${pick(r, banks)} $v", v)
    case 9 =>
      val v = s"${pick(r, Seq("4", "5", "9"))}${digits(r, 3)}-${digits(r, 4)}-${digits(r, 4)}-${digits(r, 4)}"
      (s"카드번호: $v", v)
    case 10 =>
      val v = s"${1950 + r.nextInt(55)}년 ${1 + r.nextInt(12)}월 ${1 + r.nextInt(28)}일"
      (s"생년월일: $v", v)
    case _ =>
      r.nextInt(3) match {
        case 0 =>
          val v = s"${2010 + r.nextInt(15)}-${nonZero(r, 5)}"
          (s"사번: $v", v)
        case 1 =>
          val v = s"${10 + r.nextInt(90)}${pick(r, plateLetters)} ${nonZero(r, 4)}"
          (s"차량번호 $v", v)
        case _ =>
          val v = s"${2015 + r.nextInt(10)}${nonZero(r, 5)}"
          (s"학번: $v", v)
      }
  }

  /** A Korean business document with [[PiiPerDoc]] planted values. The
    * prose between planted lines is random, so two documents share little
    * beyond the title line (near-dup and line dedup leave them apart). */
  def koreanDoc(seed: Long, stream: String, index: Long): KoDoc = {
    val r = rng(seed, stream, index)
    var attempt = 0
    while (true) {
      val cats = r.shuffle((0 until 12).toList).take(PiiPerDoc)
      val lines = cats.map(c => c -> plantLine(r, c))
      val body = lines.flatMap { case (_, (line, _)) =>
        Seq(line, prose(r, 6 + r.nextInt(10)))
      }
      val text = (pick(r, titles) +: prose(r, 8 + r.nextInt(8)) +: body).mkString("\n")
      val planted = lines.map { case (c, (_, v)) => c -> v }
      if (planted.forall { case (_, v) => text.indexOf(v) == text.lastIndexOf(v) } &&
          clearlyKept(text))
        return KoDoc(text, planted)
      attempt += 1
      require(attempt < 100, s"cannot plant unique values for $stream/$index")
    }
    throw new IllegalStateException("unreachable")
  }

  private val fixtureVocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val fixtureLangs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh",
    "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** Rows in the shape of the `sf0.1` `documents` table:
    * (doc_id, text, lang, source, n_chars). */
  def fixtureDocuments(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] =
    (0 until n).map { i =>
      val r = rng(seed, "fixture", i)
      val text = (0 until 10 + r.nextInt(91)).map(_ => pick(r, fixtureVocab)).mkString(" ")
      (i.toLong, text, pick(r, fixtureLangs), s"src${i % 20}", text.length.toLong)
    }

  /** Whether a page sits well inside the quality gates the workloads run
    * (`QualityPipeline.Config` defaults, alpha-word gate off), judged by the
    * generator alone: at least twice `minWords` words, no word bigram more
    * than twice (the repetition gate is a 0.2 share of bigrams), a mean
    * word length of 2.5 to 10 characters (the gate is 2 to 12), and no
    * symbol, bullet or ellipsis characters at all. */
  def clearlyKept(text: String): Boolean = {
    val words = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val meanLen = words.map(w => w.codePointCount(0, w.length)).sum.toDouble / words.length
    words.length >= 20 &&
      words.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).values.forall(_.size <= 2) &&
      meanLen >= 2.5 && meanLen <= 10 &&
      !text.exists("#…•*".contains(_)) && !text.contains("...") &&
      !text.split("\n").exists(_.trim.startsWith("-"))
  }

  /** A page the quality gates must drop: fewer words than `minWords`. */
  def stubText(seed: Long, stream: String, index: Long): String = {
    val r = rng(seed, stream, index)
    (0 until 3 + r.nextInt(4)).map(_ => pick(r, proseWords)).mkString(" ")
  }

  /** Third-mix of three base texts chosen by hash of (salt, key, rep): the
    * first third of A, the middle third of B, the last third of C and a
    * variant marker — `graft.Bench.incrementalFixture`'s construction, with
    * the seed in the salt. Two mixes sharing one source third sit at
    * Jaccard about 0.2, under the near-dup threshold. */
  def thirdMix(base: IndexedSeq[String], salt: String, key: String, rep: Int): String = {
    def src(tag: String) = {
      val h = MurmurHash3.stringHash(s"$key$salt$rep$tag")
      base(java.lang.Math.floorMod(h, base.length)).trim.split("\\s+")
    }
    val a = src("a"); val b = src("b"); val c = src("c")
    def third(w: Array[String]) = math.max(w.length / 3, 1)
    Seq(a.take(third(a)).mkString(" "),
      b.slice(third(b), 2 * third(b)).mkString(" "),
      c.drop(2 * third(c)).mkString(" "),
      s"variant$rep").filter(_.nonEmpty).mkString(" ")
  }

  /** A near-dup mutant: the text minus its first three tokens. */
  def dropThree(text: String): String = text.split(" ").drop(3).mkString(" ")
}
