package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** Every SparkSession comes from [[GraftSession.local]], every graft SQL
  * function from the [[graft.functions.GraftExtensions]] table, every
  * operator's kernel call from that table's typed functions, every entry
  * from an [[Entry]] table, every artifact is a row of [[Artifacts.all]]
  * and every `CALL` procedure a row of [[graft.sources.JsonlProcedures.all]];
  * the lake's write face implements each DSv2 write contract once, and its
  * read face plans byte-range splits, change sets and file names once;
  * one aggregate class and one heap ([[graft.functions.TopKHeap]]) rank
  * every top-k: a builder, a registration, a map, a procedure, write or
  * stream class, a split loop, an aggregate class, an order comparison
  * or a name in SQL text anywhere else is a second copy, free to drift. */
class SessionGuardSpec extends AnyFunSuite {

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def text(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  private def root(dir: String): File = {
    val f = new File(dir)
    assert(f.isDirectory, "run from the repository root")
    f
  }

  /** Lines of code, without whole-line `//` and scaladoc comments. */
  private def codeLines(f: File): Seq[String] =
    text(f).split("\n").toSeq.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }

  /** [[codeLines]] cut into top-level definitions: each block opens with
    * a class, object or trait header at column 0. */
  private def topLevel(f: File): Seq[Seq[String]] = {
    val header = """^(?:private\S*\s+)?(?:final\s+|abstract\s+|case\s+)*(?:class|object|trait)\s""".r
    codeLines(f).foldLeft(Vector.empty[Vector[String]]) { (bs, l) =>
      if (header.findFirstIn(l).nonEmpty || bs.isEmpty) bs :+ Vector(l)
      else bs.init :+ (bs.last :+ l)
    }
  }

  test("GraftSession.scala is the only source that builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val hits = Seq(root("src/main"), root("src/test")).flatMap(sources)
      .filter(text(_).contains(needle))
    assert(hits.map(_.getName) === Seq("GraftSession.scala"))
  }

  /** Each line paired with whether it lies in a `"""` string passed to
    * `.sql(`, opened on that line or on the one before. */
  private def inSqlCall(lines: Seq[String]): Seq[(String, Boolean)] = {
    val q = "\"\"\""
    var inString, sqlString = false
    var prev = ""
    lines.map { l =>
      val quotes = l.split(q, -1).length - 1
      if (!inString && quotes > 0)
        sqlString = (prev.trim + l.substring(0, l.indexOf(q)).trim).endsWith(".sql(")
      val flagged = (inString || quotes > 0) && sqlString
      if (quotes % 2 == 1) inString = !inString
      prev = l
      l -> flagged
    }
  }

  test("operators call graft kernels through typed Column functions, never SQL text") {
    // SQL text names a kernel only where it is SQL on purpose: a query run
    // through `.sql(…)` (j13, x22) or DuckDB oracle text (x24's
    // nfc_normalize is DuckDB's own function)
    val call = GraftExtensions.kernels.map(_.name).mkString("""\b(""", "|", """)\(""").r
    val oracles = SparkEntry.oracleSql.values.mkString("\n")
    val hits = for {
      f <- sources(root("src/main")) if f.getName != "GraftExtensions.scala"
      (l, sql) <- inSqlCall(codeLines(f))
      if call.findFirstIn(l).nonEmpty && !sql &&
        !oracles.contains(l.trim.stripPrefix("|").trim)
    } yield s"${f.getName}: ${l.trim}"
    assert(hits === Nil)
  }

  test("SQL functions, rules and strategies reach a session only through GraftExtensions") {
    val main = sources(root("src/main"))
    // run-time names bound to trained tables: BpeStats.registerWith, once
    val fnHits = main
      .map(f => f.getName -> codeLines(f).count(_.contains("createOrReplaceTempFunction")))
      .filter(_._2 > 0)
    assert(fnHits === Seq("BpeStats.scala" -> 1))
    val ruleHits = main.filter(f => codeLines(f)
      .exists(l => l.contains("extraOptimizations") || l.contains("extraStrategies")))
    assert(ruleHits.map(_.getName).isEmpty)
  }

  test("entries are bound only in Entry tables, never in a second name-keyed map") {
    // the two literal shapes each module once kept side by side
    val needles = Seq(
      "Map[String, (SparkSession, String) => DataFrame] = " + "Map(",
      "oracles: Map[String, String] = " + "Map(")
    val hits = sources(root("src/main"))
      .filter(f => codeLines(f).exists(l => needles.exists(l.contains)))
    assert(hits.map(_.getName).isEmpty)
  }

  test("every Artifact defined in src/main is a row of Artifacts.all") {
    // one left out would build on the first query that touches it,
    // charging its cost to that query instead of to the prebuild phase
    val literal = """Artifact\("(\w+)"""".r
    val defined = sources(root("src/main"))
      .flatMap(f => codeLines(f).flatMap(l => literal.findAllMatchIn(l).map(_.group(1))))
    assert(defined.nonEmpty)
    assert(defined.filterNot(Artifacts.all.map(_._1).contains) === Nil)
  }

  test("every CALL procedure is a row of JsonlProcedures.all, served by one class") {
    val main = sources(root("src/main"))
    // the one generic class implements both DSv2 faces; any other
    // subclass (named or anonymous) is a hand-written procedure
    val subclass = """\b(extends|with|new)\s+(Unbound|Bound)Procedure\b""".r
    val sites = for {
      f <- main; l <- codeLines(f) if subclass.findFirstIn(l).nonEmpty
    } yield s"${f.getName}: ${l.trim}"
    assert(sites.size === 1, sites)
    // each name is bound by its row alone: no name match or list elsewhere
    val names = graft.sources.JsonlProcedures.all.map(_.name)
    val outside = for {
      f <- main if f.getName != "JsonlMaintenance.scala"
      l <- codeLines(f); n <- names if l.contains("\"" + n + "\"")
    } yield s"${f.getName}: ${l.trim}"
    assert(outside === Nil)
    val rows = main.flatMap(codeLines).map(_.trim)
    names.foreach(n => assert(rows.count(_.startsWith("Proc(\"" + n + "\"")) === 1, n))
  }

  test("the lake's write face implements each DSv2 write contract at one site") {
    // one clustering policy (JsonlClusteredWrite), one delta operation and
    // one delta commit serving DELETE, UPDATE and MERGE (JsonlMor*)
    val contracts = Seq("RequiresDistributionAndOrdering", "SupportsDelta", "DeltaBatchWrite")
    val site = ("""\b(?:extends|with|new)\s+(?:[\w.]+\.)?(""" +
      contracts.mkString("|") + """)\b""").r
    val sites = for {
      f <- sources(root("src/main")); l <- codeLines(f); m <- site.findAllMatchIn(l)
    } yield m.group(1) -> s"${f.getName}: ${l.trim}"
    contracts.foreach { c =>
      val hits = sites.collect { case (`c`, at) => at }
      assert(hits.size === 1, s"$c implemented at ${hits.size} sites: $hits")
    }
  }

  test("the lake's read face plans splits, change sets and file names at one site") {
    val main = sources(root("src/main"))
    // one split planner (JsonlV2.splits) under every scan, stream and feed
    val splitLoops = for {
      f <- main; l <- codeLines(f) if l.contains("by splitSize")
    } yield s"${f.getName}: ${l.trim}"
    assert(splitLoops.size === 1, s"byte-range splits planned at ${splitLoops.size} sites: $splitLoops")
    // a listed file carries its own name (JsonlV2.DataFile)
    val lake = main.filter(_.getPath.contains("graft/sources"))
    val nameCuts = for {
      f <- lake; l <- codeLines(f) if l.contains("lastIndexOf('/') + 1")
    } yield s"${f.getName}: ${l.trim}"
    assert(nameCuts === Nil)
    // one stream over snapshot-version offsets (JsonlChangesStream), which
    // plans through the one change-set planner: a top-level definition
    // that implements MicroBatchStream and names the version offset is
    // a second change planner
    val stream = """\b(?:extends|with|new)\s+(?:[\w.]+\.)?MicroBatchStream\b""".r
    val versionStreams = for {
      f <- main
      block <- topLevel(f)
      if block.exists(stream.findFirstIn(_).nonEmpty) &&
        block.exists(_.contains("JsonlVersionOffset("))
    } yield s"${f.getName}: ${block.head.trim}"
    assert(versionStreams.size === 1,
      s"snapshot-version streams at ${versionStreams.size} sites: $versionStreams")
  }

  test("one top-k aggregate class, and one heap binds the selection order") {
    val main = sources(root("src/main"))
    val aggregate = """\b(?:extends|with)\s+TypedImperativeAggregate\b""".r
    val aggregates = for {
      f <- main; l <- codeLines(f) if aggregate.findFirstIn(l).nonEmpty
    } yield s"${f.getName}: ${l.trim}"
    assert(aggregates.size === 1,
      s"${aggregates.size} TypedImperativeAggregate classes: $aggregates")
    // a double or code-point comparison elsewhere in graft.functions is a
    // second copy of the order TopKHeap writes once
    val order = Seq("java.lang.Double.compare", "codePointAt")
    val outside = for {
      f <- main if f.getPath.contains("graft/functions")
      block <- topLevel(f) if !block.head.startsWith("final class TopKHeap")
      l <- block if order.exists(l.contains)
    } yield s"${f.getName}: ${l.trim}"
    assert(outside === Nil)
  }
}
