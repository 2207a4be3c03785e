package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/**
 * Generates `CAPABILITIES.md` — the query → operator → oracle → spec
 * navigation index. The catalog's hundreds of queries across dozens of
 * operator files exceed what a reader can navigate from
 * `SparkEntry.queries` alone; this main builds
 * the table FROM the source of truth (the queries/oracleSql maps at
 * runtime, the per-query scaladocs by parse), so the index can never
 * drift from the code: regenerate with
 * `sbt "runMain graft.Capabilities"` after adding or retiring queries.
 *
 * Columns:
 *  - query: the `SparkEntry.queries` key (the driver's gate name);
 *  - what it evidences: the first sentence of the `qNN:` scaladoc on
 *    the query's builder method;
 *  - entry point: the first `[[...]]` operator link in that scaladoc
 *    (the implementation a user of the library calls directly);
 *  - oracle: `sql` when `SparkEntry.oracleSql` carries a DuckDB twin
 *    (rows+schema+hash gated), `rows` otherwise;
 *  - spec: the ScalaTest suite covering the entry point's file, by the
 *    repo's `<Object>Spec` convention, when one exists.
 */
object Capabilities {

  private val entryPath = "src/main/scala/graft/SparkEntry.scala"
  private val outPath = "CAPABILITIES.md"

  def main(args: Array[String]): Unit = {
    Files.writeString(Paths.get(outPath), render())
    println(s"[capabilities] wrote $outPath (${SparkEntry.queries.size} rows)")
  }

  /** The full `CAPABILITIES.md` text, read from the source tree under
    * the working directory (PlanSpec pins the committed file to it). */
  def render(): String = {
    val src = Files.readString(Paths.get(entryPath))
    val lines = src.linesIterator.toVector

    // query name -> builder method (the map entries are uniformly
    // `"qNN_name" -> (method _)`)
    val mapEntry = """"(q[0-9]+[a-z0-9_]*)"\s*->\s*\(([A-Za-z0-9]+) _\)""".r
    val byQuery = mapEntry.findAllMatchIn(src)
      .map(m => m.group(1) -> m.group(2)).toMap

    // the library's public operator/function/model objects — used to
    // resolve an entry point from a builder BODY when the scaladoc
    // carries no [[...]] link (the round-1..4 queries predate the
    // linked-doc convention)
    val objectDirs = Seq("operators", "functions", "streaming", "models",
      "sinks", "sources")
    val objectDecl = """(?m)^object ([A-Za-z0-9]+)""".r
    val knownObjects: Map[String, (String, String)] = objectDirs.flatMap { dir =>
      val p = Paths.get(s"src/main/scala/graft/$dir")
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".scala"))
        .flatMap { f =>
          val file = f.getFileName.toString.stripSuffix(".scala")
          objectDecl.findAllMatchIn(Files.readString(f)).map(m =>
            m.group(1) -> (s"$dir.${m.group(1)}", s"$dir/$file"))
        }.toList
    }.toMap

    // method -> (first doc sentence, entry point) — doc from the
    // scaladoc block immediately preceding `private def <method>`,
    // entry point from its first [[...]] link or, failing that, the
    // first known-object call in the method body
    val defLine = """^\s*private def ([A-Za-z0-9]+)\(""".r
    val defIdx = lines.zipWithIndex.collect {
      case (l, i) if defLine.findFirstIn(l).isDefined =>
        defLine.findFirstMatchIn(l).get.group(1) -> i
    }
    val docOf = scala.collection.mutable.Map.empty[String, (String, String)]
    for (((method, i), idx) <- defIdx.zipWithIndex) {
      // walk back over the contiguous comment block
      var j = i - 1
      val block = scala.collection.mutable.ArrayBuffer.empty[String]
      while (j >= 0 && (lines(j).trim.startsWith("*") ||
        lines(j).trim.startsWith("/**"))) {
        block.prepend(lines(j).trim); j -= 1
      }
      val joined = block.map(_.stripPrefix("/**").stripPrefix("*/")
          .stripPrefix("*").trim).mkString(" ")
        .replaceAll("\\s+", " ").trim
      // a [[...]] link that wraps onto the next doc line comes back with
      // the join's space inside it: close it up before links are matched
      val text = """\[\[[^\]]*\]\]""".r.replaceAllIn(joined,
        m => Regex.quoteReplacement(m.matched.replaceAll("\\s", "")))
      // prefer an operator-package link (the entry point) over an
      // incidental functions/ShaLanes-style citation appearing earlier
      val allLinks = """\[\[([A-Za-z0-9.$#_]+)\]\]""".r
        .findAllMatchIn(text).map(_.group(1)).toList
      val linkDoc = allLinks.find(_.startsWith("graft.operators."))
        .orElse(allLinks.headOption).getOrElse("")
      // fallback entry point: first Object.method( or Object( apply
      // call in the body whose Object is a known library object
      val bodyEnd = defIdx.lift(idx + 1).map(_._2).getOrElse(lines.size)
      val call = """([A-Z][A-Za-z0-9]*)\.([a-zA-Z][A-Za-z0-9]*)\(""".r
      val applyCall = """([A-Z][A-Za-z0-9]*)\(""".r
      val linkBody = (i until bodyEnd).iterator
        .flatMap(n => call.findAllMatchIn(lines(n)))
        .collectFirst { case m if knownObjects.contains(m.group(1)) =>
          s"graft.${knownObjects(m.group(1))._1}.${m.group(2)}" }
        .orElse((i until bodyEnd).iterator
          .flatMap(n => applyCall.findAllMatchIn(lines(n)))
          .collectFirst { case m if knownObjects.contains(m.group(1)) =>
            s"graft.${knownObjects(m.group(1))._1}" })
        .getOrElse("")
      // entry-point priority: operator link in the doc > operator call
      // in the body > any doc link (a functions/ShaLanes-style citation)
      val link =
        if (linkDoc.startsWith("graft.operators.")) linkDoc
        else if (linkBody.nonEmpty) linkBody
        else linkDoc
      // first sentence = up to the first ". " outside a [[...]];
      // strip the leading "qNN:" tag and any inline [[links]]
      val clean = text.replaceAll("""\[\[([A-Za-z0-9.$#_]+)\]\]""", "$1")
        .replaceFirst("""^q[0-9]+[a-z0-9_/+]*( \(shared .*?\))?:\s*""", "")
      val sentence = {
        val cut = clean.indexOf(". ")
        val s = if (cut > 0) clean.substring(0, cut + 1) else clean
        if (s.length > 220) s.take(217) + "..." else s
      }
      docOf(method) = (sentence, link)
    }

    val oracled = SparkEntry.oracleSql.keySet

    def specFor(link: String): String = {
      // [[graft.operators.Dedup.minhashLshPairsSha]] -> operators/DedupSpec;
      // objects that live in a differently-named file (object Text in
      // TextFunctions.scala) fall back to the FILE's spec
      val parts = link.stripPrefix("graft.").split("\\.")
      if (parts.length < 2) return ""
      val byFile = knownObjects.get(parts(1)).map(_._2)
      val candidates = Seq(
        Some(parts.take(2).mkString("/")), byFile).flatten
        .map(p => s"src/test/scala/graft/${p}Spec.scala")
      candidates.find(p => Files.exists(Paths.get(p)))
        .map(_.stripPrefix("src/test/scala/graft/").stripSuffix(".scala"))
        .getOrElse("")
    }

    def shortLink(link: String): String =
      link.stripPrefix("graft.").stripPrefix("operators.")

    val rows = SparkEntry.queries.keys.toSeq
      .sortBy(q => ("""\d+""".r.findFirstIn(q).get.toInt, q))
      .map { q =>
        val method = byQuery.getOrElse(q, "")
        val (doc, link) = docOf.getOrElse(method, ("", ""))
        // undocumented builders (the round-1..4 SQL-shape queries whose
        // semantics ARE their name) get the humanized key
        val desc = if (doc.nonEmpty) doc
          else q.dropWhile(_ != '_').drop(1).replace('_', ' ')
        val oracle = if (oracled.contains(q)) "sql" else "rows"
        val spec = if (link.nonEmpty) specFor(link) else ""
        s"| `$q` | $desc | ${if (link.nonEmpty) s"`${shortLink(link)}`" else "—"} " +
          s"| $oracle | ${if (spec.nonEmpty) s"`$spec`" else "—"} |"
      }

    val nSql = SparkEntry.queries.keys.count(oracled.contains)
    val header =
      s"""# Capabilities index
         |
         |Generated by `sbt "runMain graft.Capabilities"` from
         |`SparkEntry.queries` / `SparkEntry.oracleSql` and the per-query
         |scaladocs — do not edit by hand; regenerate after adding or retiring queries.
         |
         |${SparkEntry.queries.size} queries (${nSql} DuckDB-SQL-oracled,
         |${SparkEntry.queries.size - nSql} rows-gated). Columns: the driver's
         |gate name; what the query evidences (first scaladoc sentence); the
         |library entry point a user calls; the oracle kind; the ScalaTest
         |suite covering the entry point's file.
         |
         || query | what it evidences | entry point | oracle | spec |
         ||---|---|---|---|---|""".stripMargin

    header + "\n" + rows.mkString("\n") + "\n"
  }
}
