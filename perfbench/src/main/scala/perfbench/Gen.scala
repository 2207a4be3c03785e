package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.parallel.CollectionConverters._

/**
 * Seeded input generator. Everything the engine reads is written here,
 * before any timing starts; the engine sees only the files.
 *
 * MAUDE records are a pure function of (seed, record index), so a record
 * re-delivered in a later file is byte-identical to its first delivery.
 */
object Gen {

  /** What a generated MAUDE landing planted, for the output checks. */
  final case class Planted(records: Long, distinctKeys: Long, badDates: Long,
                           missingReportNumbers: Long, bytes: Long)

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt + 0x632BE59BD9B4E5L) * 0xBF58476D1CE4E5B9L)

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  // ---- manufacturer seed (shaped like the reference's 4,788-row map) ----

  private val NameHeads = IndexedSeq("Acme", "Zeta", "Orion", "Helix", "Nova", "Apex",
    "Vertex", "Summit", "Pioneer", "Meridian", "Atlas", "Beacon", "Cobalt", "Delta",
    "Ember", "Falcon", "Granite", "Harbor", "Iris", "Juniper", "Keystone", "Lumen",
    "Magnolia", "Nimbus", "Onyx", "Polaris", "Quartz", "Redwood", "Sierra", "Titan",
    "Unity", "Vantage", "Willow", "Xenon", "Yarrow", "Zenith", "Arbor", "Bristol",
    "Cascade", "Dynamo")
  private val NameMids = IndexedSeq("Medical", "Surgical", "Cardio", "Ortho", "Neuro",
    "Vascular", "Dental", "Renal", "Spine", "Vision", "Life", "Health", "Bio", "Care",
    "Device", "Implant", "Therapeutics", "Diagnostics", "Scientific", "Instruments")
  private val Suffixes = IndexedSeq(("INC", ", INC."), ("CORP", " CORPORATION"),
    ("LLC", ", L.L.C."), ("GMBH", " G.M.B.H."), ("LTD", ", LIMITED"), ("AG", " A.G."))

  val ManufacturerRows = 4788
  private val Canonicals = ManufacturerRows / 3

  /** Canonical name of manufacturer `i` (unique for i < Canonicals). */
  private def canonical(i: Int): String = {
    val h = NameHeads(i % NameHeads.size)
    val m = NameMids((i / NameHeads.size) % NameMids.size)
    val n = i / (NameHeads.size * NameMids.size)
    if (n == 0) s"$h $m" else s"$h $m ${n + 1}"
  }

  /** The three raw spellings the seed maps to canonical `i`. */
  private def rawNames(i: Int): IndexedSeq[String] = {
    val base = canonical(i).toUpperCase
    val (short, long) = Suffixes(i % Suffixes.size)
    IndexedSeq(base, s"$base $short", s"$base$long")
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  /** RAW_NAME,CANONICAL_NAME,MANUFACTURER_ID with RFC-4180 quoting. */
  def manufacturerCsv(path: Path): Unit = {
    val sb = new StringBuilder("RAW_NAME,CANONICAL_NAME,MANUFACTURER_ID\n")
    for (i <- 0 until Canonicals; raw <- rawNames(i))
      sb.append(csvField(raw)).append(',').append(csvField(canonical(i)))
        .append(',').append(10000 + i).append('\n')
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }

  // ---- MAUDE NDJSON ----

  private val EventTypes = IndexedSeq("Injury", "INJURY", " injury ", "Malfunction",
    "MALFUNCTION", "malfunction", "Death", "DEATH", "N/A", "", "Other", "Recall",
    "unknown", null)
  private val Problems = IndexedSeq("Leak/Splash", "Break", "Material Integrity Problem",
    "Device Operates Differently Than Expected", "Migration", "Occlusion",
    "Electrical Shorting", "Battery Problem", "Insufficient Information")
  private val Devices = IndexedSeq("Infusion Pump", "Catheter", "Stent", "Pacemaker",
    "Hip Implant", "Insulin Pump", "Ventilator", "Glucose Monitor", "Heart Valve",
    "Surgical Stapler")
  private val Keyword = IndexedSeq(
    "a leak was observed at the connector", "the shaft showed a fracture after use",
    "the device was found to break during insertion", "thrombus formation was noted",
    "the patient developed an infection at the site", "the lead was dislodged",
    "imaging showed the implant had migrated")
  private val Neutral = IndexedSeq("the device was returned for evaluation",
    "no further patient involvement was reported", "the user facility submitted the report",
    "the investigation is ongoing", "the event occurred during a routine procedure",
    "the manufacturer was notified by the clinic", "the lot history review found no anomalies",
    "the patient was reported to be in stable condition")

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\r' => sb.append("\\r"); case '\t' => sb.append("\\t")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def yyyymmdd(dayIndex: Int): String = {
    val d = java.time.LocalDate.of(2016, 1, 1).plusDays(dayIndex.toLong)
    f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
  }

  private val MalformedDates = IndexedSeq("2020xx01", "20211341", "UNKNOWN", "", "2019-07-04")

  /** Whether record `i` plants a date the staging parse must null out. */
  private def badDate(seed: Long, i: Long): Boolean = rng(seed, i).nextInt(100) == 0
  private def missingReportNumber(seed: Long, i: Long): Boolean =
    rng(seed, i ^ 0x5bd1e995L).nextInt(500) == 0

  /** Narrative text of record `i` (its fragments joined by newlines,
    * exactly as staging assembles them, blank fragments dropped). */
  def narrative(seed: Long, i: Long): String =
    fragments(seed, i).filter(f => f != null && f.trim.nonEmpty).map(_.trim).mkString("\n")

  private def fragments(seed: Long, i: Long): IndexedSeq[String] = {
    val r = rng(seed, i ^ 0x27d4eb2fL)
    val n = 1 + r.nextInt(4)
    (0 until n).map { j =>
      val u = r.nextInt(100)
      if (u < 3) null
      else if (u < 5) "  "
      else {
        val s = if (r.nextInt(3) == 0) pick(r, Keyword) else pick(r, Neutral)
        if (j == 0) s.capitalize + s" (report ${i % 9973})." else s + "."
      }
    }
  }

  /** One MAUDE record as a JSON line, a pure function of (seed, i). */
  def maudeRecord(seed: Long, i: Long): String = {
    val r = rng(seed, i)
    val bad = r.nextInt(100) == 0 // same draw as badDate
    val day = r.nextInt(9 * 365)
    val sb = new StringBuilder(512).append('{')
    def field(k: String, v: String): Unit = {
      if (sb.length > 1) sb.append(',')
      sb.append('"').append(k).append("\":").append(if (v == null) "null" else esc(v))
    }
    field("mdr_report_key", f"MDR$i%010d")
    if (!missingReportNumber(seed, i)) field("report_number", f"${1000000 + i % 8999999}%d-${2016 + day / 365}%d-${i % 100000}%05d")
    field("date_received", if (bad) pick(r, MalformedDates) else yyyymmdd(day))
    field("event_date", yyyymmdd(math.max(0, day - r.nextInt(60))))
    val et = pick(r, EventTypes)
    if (et != null) field("event_type", et)
    field("product_problem", pick(r, Problems))
    field("device_report_product_code", f"${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}")
    // manufacturer spelling: a seed variant in noisy case/spacing, an
    // unknown firm, or a misspelling that the seed cannot canonicalize
    val mi = r.nextInt(Canonicals)
    val u = r.nextInt(100)
    val mfr =
      if (u < 8) s"Unlisted Devices ${r.nextInt(500)}"
      else if (u < 12) rawNames(mi)(0).replaceFirst("[AEIOU]", "")
      else {
        val v = pick(r, rawNames(mi))
        r.nextInt(4) match {
          case 0 => v
          case 1 => v.toLowerCase
          case 2 => s"  $v "
          case _ => v.split(' ').map(w => w.take(1) + w.drop(1).toLowerCase).mkString(" ")
        }
      }
    val dev = pick(r, Devices)
    val topLevel = r.nextInt(10) < 6
    if (topLevel) { field("manufacturer_d_name", mfr); field("device_name", dev) }
    field("brand_name", s"${dev.split(' ')(0)} ${r.nextInt(90) + 10}")
    sb.append(",\"device\":[")
    val blankFirst = !topLevel && r.nextInt(4) == 0
    if (blankFirst) sb.append("{\"manufacturer_d_name\":\" \",\"device_name\":\"\"},")
    sb.append("{\"manufacturer_d_name\":").append(esc(mfr))
      .append(",\"device_name\":").append(esc(dev)).append("}]")
    sb.append(",\"mdr_text\":[")
    sb.append(fragments(seed, i).map(f => "{\"text\":" + (if (f == null) "null" else esc(f)) + "}").mkString(","))
    sb.append("]}")
    sb.toString
  }

  /** Write the records `ids` as one NDJSON file; returns its byte size. */
  def writeMaudeFile(seed: Long, ids: Iterable[Long], file: Path): Long =
    writeLines(ids.iterator.map(maudeRecord(seed, _)), file)

  def planted(seed: Long, ids: Iterable[Long], bytes: Long): Planted = {
    val distinct = ids.toSet
    Planted(ids.size.toLong, distinct.size.toLong,
      distinct.count(badDate(seed, _)).toLong,
      distinct.count(missingReportNumber(seed, _)).toLong, bytes)
  }

  /** A batch landing: records [0, n) spread over `files` files, written
    * in parallel. */
  def maudeBatch(seed: Long, n: Long, files: Int, dir: Path): Planted = {
    val parts = (0 until files).map(f => (f.toLong * n / files) until ((f + 1).toLong * n / files))
    val bytes = parts.zipWithIndex.par.map { case (ids, f) =>
      writeMaudeFile(seed, ids, dir.resolve(f"part-$f%04d.json"))
    }.sum
    planted(seed, 0L until n, bytes)
  }

  // ---- search documents and queries ----

  /** The search document of MAUDE record `i`: its narrative and a unit
    * embedding, as one JSON line. */
  def docRecord(seed: Long, i: Long): String =
    s"""{"doc_id":$i,"text":${esc(narrative(seed, i))},"embedding":[""" +
      vector(seeded(seed, i)).map(x => x.toFloat.toString).mkString(",") + "]}"

  /** Write `lines` as one file, renamed into place when complete. */
  def writeLines(lines: Iterator[String], file: Path): Long = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling("." + file.getFileName + ".tmp")
    val w: BufferedWriter = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
    Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.size(file)
  }

  def vector(r: SplittableRandom, dim: Int = 64): Seq[Double] = {
    val v = Seq.fill(dim)(gaussian(r))
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private lazy val NarrativeWords =
    (Keyword ++ Neutral).flatMap(_.split(' ')).filter(_.length > 3).distinct.toIndexedSeq

  /** Query terms for a search over MAUDE narratives. */
  def narrativeTerms(r: SplittableRandom): String =
    Seq.fill(3)(pick(r, NarrativeWords)).mkString(" ")

  def seeded(seed: Long, salt: Long): SplittableRandom = rng(seed, salt)

  def deleteTree(dir: File): Unit = if (dir.exists()) {
    val walk = Files.walk(dir.toPath)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    } finally walk.close()
  }
}
