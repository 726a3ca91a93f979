package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed and sizes; the program under test only ever sees the files they
  * write. */
object Gen {

  // ---------------------------------------------------------------------
  // Raw LVR CSVs (FIXTURES.md §A contract)
  // ---------------------------------------------------------------------

  val cityLetters: Seq[String] = ('a' to 'z').map(_.toString)

  /** The letter → city table of the reference (etl_pipeline_spark.py:15-20),
    * restated here so the truth does not depend on the code it checks. */
  val cityOf: Map[String, String] = Map(
    "a" -> "台北市", "b" -> "台中市", "c" -> "基隆市", "d" -> "台南市",
    "e" -> "高雄市", "f" -> "新北市", "g" -> "宜蘭縣", "h" -> "桃園縣",
    "j" -> "新竹縣", "k" -> "苗栗縣", "l" -> "臺中縣", "m" -> "南投縣",
    "n" -> "彰化縣", "p" -> "雲林縣", "q" -> "嘉義縣", "r" -> "臺南縣",
    "s" -> "高雄縣", "t" -> "屏東縣", "u" -> "花蓮縣", "v" -> "臺東縣",
    "x" -> "澎湖縣", "y" -> "陽明山", "w" -> "金門縣", "z" -> "連江縣",
    "i" -> "嘉義市", "o" -> "新竹市")

  val signs: Seq[String] = Seq("房地(含車位)", "房地", "土地", "車位", "建物")
  private val signWeights = Seq(30, 30, 25, 8, 7)

  private val englishHeaderRow = Seq(
    "township dist", "transaction sign", "position", "land area m2",
    "building area m2", "completion date", "transaction date", "total price",
    "unit price m2")

  private val townships = Seq("礁溪鄉", "宜蘭市", "中正區", "大安區", "頭城鎮",
    "冬山鄉", "中山區", "萬華區", "五結鄉", "信義區")
  private val sections = Seq("大湖段", "青仔地段", "下埔段", "民權段", "幸福段",
    "和平段1小段", "長安段三小段", "信義段")

  /** Per (city, year) building truth: valid rows, the rows with a non-NULL
    * unit price, and the exact sum of their per-ping unit prices. */
  final class CellTruth {
    var n: Long = 0
    var nPriced: Long = 0
    var sum: BigDecimal = BigDecimal(0)
    def avg: Option[Double] =
      if (nPriced == 0) None
      else Some((sum / BigDecimal(nPriced))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** What a correct load of a set of files must produce. */
  final class LvrTruth {
    var rawRows: Long = 0
    var buildingRows: Long = 0
    var landRows: Long = 0
    val cells = mutable.Map.empty[(String, Int), CellTruth]
    /** A5 result rows (city, year, average, count) against this truth:
      * the same cells, exact counts, averages within one cent (the
      * 2-decimal rounding of a double sum can land on either side).
      * Returns the cells that differ. */
    def mismatchesA5(rows: Seq[(String, Int, Option[Double], Long)]): Seq[String] = {
      val got = rows.map { case (c, y, avg, n) => (c, y) -> (avg, n) }.toMap
      val keys = (got.keySet ++ cells.keySet).toSeq.sortBy(_.toString)
      val bad = keys.filter { k =>
        (got.get(k), cells.get(k)) match {
          case (Some((avg, n)), Some(c)) => n != c.n || ((avg, c.avg) match {
            // a double sum may round to the neighbouring cent
            case (Some(x), Some(y)) => math.abs(math.round(x * 100) - math.round(y * 100)) > 1
            case (None, None) => false
            case _ => true
          })
          case _ => true
        }
      }
      (if (got.size != rows.size) Seq("duplicate cells") else Nil) ++
        bad.map(k => s"$k engine ${got.get(k)} truth ${cells.get(k).map(c => (c.avg, c.n))}")
    }
    def add(o: LvrTruth): Unit = {
      rawRows += o.rawRows; buildingRows += o.buildingRows; landRows += o.landRows
      o.cells.foreach { case (k, c) =>
        val t = cells.getOrElseUpdate(k, new CellTruth)
        t.n += c.n; t.nPriced += c.nPriced; t.sum += c.sum
      }
    }
  }

  final case class LvrFile(name: String, bytes: Array[Byte], truth: LvrTruth)

  /** Spark's double round: HALF_UP on the shortest decimal repr. */
  private def round2(d: Double): Double =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def parseDouble(s: String): Option[Double] =
    if (s.isEmpty || !s.forall(c => c.isDigit || c == '.')) None
    else Some(s.toDouble)

  private def parseLong(s: String): Option[Long] =
    if (s.isEmpty || !s.forall(_.isDigit)) None else Some(s.toLong)

  /** ROC date string → (year) when valid, per the FIXTURES.md contract. */
  private def rocYear(s: String): Option[Int] =
    if ((s.length != 6 && s.length != 7) || !s.forall(_.isDigit)) None
    else {
      val y = s.dropRight(4).toInt + 1911
      val m = s.takeRight(4).take(2).toInt
      val d = s.takeRight(2).toInt
      try { java.time.LocalDate.of(y, m, d); Some(y) }
      catch { case _: java.time.DateTimeException => None }
    }

  private def weighted[T](r: Random, xs: Seq[T], ws: Seq[Int]): T = {
    var x = r.nextInt(ws.sum)
    xs.zip(ws).find { case (_, w) => x -= w; x < 0 }.get._1
  }

  /** One raw row plus its contribution to the truth. */
  private def row(r: Random, city: String, seasonYear: Int, truth: LvrTruth): Seq[String] = {
    val sign = weighted(r, signs, signWeights)
    val section = sections(r.nextInt(sections.size))
    val position = r.nextInt(10) match {
      case 0 => s"羅東鎮中正路${r.nextInt(300)}號"                   // no 段
      case 1 => s"\"${section}${r.nextInt(900)}號, ${r.nextInt(20) + 1}樓\"" // quoted comma
      case _ => s"$section${r.nextInt(900)}地號"
    }
    val landArea = r.nextInt(20) match {
      case 0 => "0"
      case 1 => "abc"
      case _ => f"${10 + r.nextDouble() * 400}%.4f"
    }
    val buildingArea = r.nextInt(25) match {
      case 0 => ""
      case 1 => "abc"
      case 2 => "0"
      case _ => f"${20 + r.nextDouble() * 300}%.4f"
    }
    // a season's file registers that year's and the previous year's deals,
    // plus a few late-registered ROC-99 deals (6-digit dates below)
    val rocY = if (r.nextInt(20) == 0) 99 else seasonYear - r.nextInt(2)
    val mm = 1 + r.nextInt(12)
    val dd = 1 + r.nextInt(28)
    val txnDate = r.nextInt(25) match {
      case 0 => f"$rocY%03d${13}%02d$dd%02d"            // month 13
      case 1 => f"$rocY%03d$mm%02d${32}%02d"            // day 32
      case 2 => f"$rocY%03d$mm%02d${0}%02d"             // day 00
      case 3 => ""                                     // empty
      case 4 => f"${rocY}%03d0230"                      // Feb 30
      case 5 if rocY < 100 => f"$rocY%d$mm%02d$dd%02d"  // 6-digit form
      case _ => f"$rocY%03d$mm%02d$dd%02d"
    }
    val total = r.nextInt(40) match {
      case 0 => s"${2147483648L + r.nextInt(1 << 30).toLong * 7}" // > 2³¹
      case 1 => "xyz"
      case _ => s"${500000 + r.nextInt(30000000)}"
    }
    val unit = r.nextInt(10) match {
      case 0 | 1 => "0"                                 // E5 repair
      case 2 => ""
      case _ => f"${1000 + r.nextDouble() * 300000}%.1f"
    }
    val completion = if (r.nextInt(5) == 0) "" else f"${70 + r.nextInt(40)}%03d0101"
    val fields = Seq(townships(r.nextInt(townships.size)), sign, position,
      landArea, buildingArea, completion, txnDate, total, unit)

    truth.rawRows += 1
    rocYear(txnDate).foreach { year =>
      if (sign == "土地") truth.landRows += 1
      if (sign.startsWith("房地")) {
        truth.buildingRows += 1
        val area = parseDouble(buildingArea)
        val tot = parseLong(total)
        val price = parseDouble(unit).flatMap { u =>
          if (u != 0.0) Some(u)
          else for { t <- tot; a <- area if a != 0.0 } yield round2(t.toDouble / a)
        }.map(p => round2(p * 3.30579))
        val cell = truth.cells.getOrElseUpdate((cityOf(city), year), new CellTruth)
        cell.n += 1
        price.foreach { p => cell.nPriced += 1; cell.sum += BigDecimal(p) }
      }
    }
    fields
  }

  /** One `{season}_{letter}_lvr_land_a.csv` file: BOM'd Chinese header
    * (the engine's own fixture header), the English header as data row 1,
    * then `rows` seeded data rows. */
  def lvrFile(seed: Long, season: String, letter: String, rows: Int): LvrFile = {
    val r = new Random(seed * 1000003L + season.hashCode * 31L + letter.head)
    val truth = new LvrTruth
    val sb = new StringBuilder
    sb.append("﻿").append(graft.fixtures.RawCsvFixture.header.mkString(",")).append("\n")
    sb.append(englishHeaderRow.mkString(",")).append("\n")
    val seasonYear = season.takeWhile(_ != 'S').toInt
    (0 until rows).foreach(_ =>
      sb.append(row(r, letter, seasonYear, truth).mkString(",")).append("\n"))
    LvrFile(s"${season}_${letter}_lvr_land_a.csv",
      sb.toString.getBytes(StandardCharsets.UTF_8), truth)
  }

  /** Season codes `{rocYear}S{quarter}`, as the reference's crawler names
    * them (web_crawler/crawler.py). */
  def seasons(n: Int): Seq[String] =
    (0 until n).map(i => s"${101 + i / 4}S${i % 4 + 1}")

  /** A historic drop: every season × every city letter, plus a class-b
    * decoy per season that the `*_a.csv` glob must skip. */
  def lvrDrop(dir: Path, seed: Long, nSeasons: Int, rowsPerFile: Int): LvrTruth = {
    Files.createDirectories(dir)
    val truth = new LvrTruth
    for (season <- seasons(nSeasons); letter <- cityLetters) {
      val f = lvrFile(seed, season, letter, rowsPerFile)
      Files.write(dir.resolve(f.name), f.bytes)
      truth.add(f.truth)
    }
    seasons(nSeasons).foreach(s =>
      Files.write(dir.resolve(s"${s}_a_lvr_land_b.csv"),
        "x,y\n1,2\n".getBytes(StandardCharsets.UTF_8)))
    truth
  }

  // ---------------------------------------------------------------------
  // Curation corpus: word-shuffle-and-salt expansion + planted near-dups
  // ---------------------------------------------------------------------

  /** The documents table's vocabulary and shape (token histogram of a
    * small technical vocabulary, 10-100 words per document). */
  private val vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "vector", "join", "customer", "the")
  private val langs = Seq("en", "zh", "es", "fr", "de")
  private val langWeights = Seq(41, 15, 15, 15, 14)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** What was planted, so a run can state its input. */
  final case class CorpusStats(docs: Int, baseDocs: Int, copies: Int,
      exactDups: Int, nearDupClusters: Int, nearDupDocs: Int)

  /** `base` seeded documents, expanded into `copies` replicas the way the
    * sf1 fixture script (`scripts/make_sf1.py`) does (replica i > 0: words shuffled with a
    * per-copy+doc seed, every 13th token from offset i % 13 salted with
    * `w{i}`), then a recorded share of documents gets planted duplicates:
    * `exactRate` exact copies (same text, new id) and `nearRate` near-dup
    * clusters of 2-3 members (one word replaced per member). */
  def corpus(seed: Long, base: Int, copies: Int, exactRate: Double,
      nearRate: Double): (Seq[Doc], CorpusStats) = {
    val r = new Random(seed)
    val bases = (0 until base).map { i =>
      val n = 10 + r.nextInt(91)
      val text = Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
      Doc(i.toLong, text, weighted(r, langs, langWeights), s"src${i % 20}")
    }
    val expanded = for (c <- 0 until copies; d <- bases) yield {
      if (c == 0) d
      else {
        val words = d.text.split(" ").toBuffer
        val wr = new Random(c * 1000000007L + d.id + seed)
        val shuffled = wr.shuffle(words)
        (c % 13 until shuffled.size by 13).foreach(p => shuffled(p) = s"w$c${shuffled(p)}")
        d.copy(id = d.id + c * 10000000L, text = shuffled.mkString(" "))
      }
    }
    val nextId = Iterator.from(0).map(i => 900000000L + i)
    val pr = new Random(seed ^ 0x5DEECE66DL)
    val exact = expanded.filter(_ => pr.nextDouble() < exactRate)
      .map(d => d.copy(id = nextId.next()))
    var clusters = 0
    val near = expanded.filter(_ => pr.nextDouble() < nearRate).flatMap { d =>
      clusters += 1
      val members = 1 + pr.nextInt(2)
      (0 until members).map { _ =>
        val words = d.text.split(" ")
        val p = pr.nextInt(words.length)
        words(p) = s"z${pr.nextInt(1000)}"
        d.copy(id = nextId.next(), text = words.mkString(" "))
      }
    }
    val all = expanded ++ exact ++ near
    (all, CorpusStats(all.size, base, copies, exact.size, clusters, near.size))
  }

  /** `n` 64-dim unit-ish embeddings in `clusters` label groups, plus a
    * recorded share of planted near-duplicates (tiny perturbations). */
  def embeddings(seed: Long, n: Int, dims: Int, nearRate: Double)
      : (Seq[(Long, Array[Float], Int)], Int) = {
    val r = new Random(seed + 17)
    val centers = Array.fill(8)(Array.fill(dims)(r.nextGaussian().toFloat))
    val base = (0 until n).map { i =>
      val lbl = r.nextInt(centers.length)
      val v = Array.tabulate(dims)(j => (centers(lbl)(j) + r.nextGaussian() * 1.5).toFloat)
      (i.toLong, v, lbl)
    }
    val near = base.filter(_ => r.nextDouble() < nearRate).zipWithIndex.map {
      case ((_, v, lbl), k) =>
        (1000000L + k, v.map(x => (x + r.nextGaussian() * 0.01).toFloat), lbl)
    }
    (base ++ near, near.size)
  }

  // ---------------------------------------------------------------------
  // Committed-table base rows (the orders table's shape)
  // ---------------------------------------------------------------------

  final case class Order(key: Long, cust: Long, status: String, price: Double,
      version: Long)

  val statuses: Seq[String] = Seq("F", "O", "P")

  def orderRow(r: Random, key: Long, version: Long): Order =
    Order(key, 1 + r.nextInt(15000).toLong, statuses(r.nextInt(3)),
      BigDecimal(900 + r.nextDouble() * 500000)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, version)

  def orders(seed: Long, n: Int): Seq[Order] = {
    val r = new Random(seed + 101)
    (0 until n).map(i => orderRow(r, i.toLong, 1L))
  }
}
