package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint for the val-initialization-order trap (r13
  * verdict item 4): an object-level `val X` interpolated into a string
  * that is itself part of an object-level `val` declared ABOVE X
  * compiles fine but embeds X's pre-init default (0 / 0.0 / null) — it
  * bit twice in round 13 (q362's μ and q379's top-k cut were silently
  * interpolated as 0 into oracle SQL declared above them; both were
  * caught by the DuckDB gate, neither by the suite).
  *
  * Scope: the trap ONLY exists for interpolations evaluated during
  * object initialization — i.e. inside a top-level strict `val`
  * initializer. Interpolations inside `def` bodies or `lazy val`s
  * evaluate at call time, when every field is initialized, and
  * forward references in block scope are already a compile error. So
  * the lint tracks, per file, whether the current line sits inside a
  * top-level strict-val initializer (a line state machine over
  * indent-≤2 declaration openers — the house style keeps object
  * members at indent 2), and flags a `$ident` there only when every
  * top-level strict `val ident` in the file is declared BELOW the use.
  */
class SourceLintSpec extends AnyFunSuite {

  private val SrcRoot = Paths.get("src/main/scala/graft")

  private def scalaSources: Seq[Path] =
    Files.walk(SrcRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  private val Mods = """(?:private(?:\[\w+\])?\s+|protected\s+|final\s+|override\s+|implicit\s+)*"""
  private val TopStrictVal = s"""^\\s{0,2}${Mods}val\\s+(\\w+)\\s*[:=]""".r
  private val TopSafeDecl = s"""^\\s{0,2}$Mods(?:lazy\\s+val|def|var|object|class|trait|import|package)\\b""".r
  private val Interp = """\$\{?(\w+)""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("the lint itself catches the r13 trap shape (self-test)") {
    val bad = Seq(
      "object X {",
      "  val oracle: Map[String, String] = Map(",
      "    \"q\" -> s\"SELECT $Mu AS mu FROM t\")",
      "  private val Mu = 3.5",
      "}")
    assert(lint(Paths.get("synthetic.scala"), bad).nonEmpty,
      "lint must flag a val interpolated into an oracle map above it")
    val good = Seq(
      "object X {",
      "  private val Mu = 3.5",
      "  val oracle: Map[String, String] = Map(",
      "    \"q\" -> s\"SELECT $Mu AS mu FROM t\")",
      "}")
    assert(lint(Paths.get("synthetic.scala"), good).isEmpty)
    val deferred = Seq(
      "object X {",
      "  val queries: Map[String, (Int, Int) => String] = Map(",
      "    \"q\" -> ((a, b) => s\"plan with $Mu\"))",
      "  private val Mu = 3.5",
      "}")
    assert(lint(Paths.get("synthetic.scala"), deferred).isEmpty,
      "function-typed registries are call-time contexts, not flagged")
  }

  test("object-level val initializers never interpolate a val declared below them") {
    val failures = scalaSources.flatMap { p =>
      lint(p, Files.readAllLines(p).asScala.toSeq)
    }
    assert(failures.isEmpty,
      s"val-init-order violations:\n${failures.mkString("\n")}")
  }

  test("harness sessions come from GraftSession: no SparkSession.builder() " +
    "or SPARK_GRAFT_CPUS read elsewhere in src/main") {
    // ScaleGen keeps its own SPARK_GRAFT_CPUS read: the service benchmark
    // keys its generated fixture cache on that file's digest, so editing
    // it would regenerate the fixture inside every benchmark comparison.
    val allowed = Seq(
      "SparkSession.builder()" -> Seq("graft/GraftSession.scala"),
      "\"SPARK_GRAFT_CPUS\"" ->
        Seq("graft/GraftSession.scala", "graft/tools/ScaleGen.scala"))
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.toSeq.zipWithIndex
      if !isComment(line)
      (pattern, files) <- allowed
      if line.contains(pattern) && !files.exists(f => p.endsWith(f))
    } yield s"$p:${i + 1}: $pattern"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one milli-quantize staging: the quantize lambda appears only in " +
    "PqOps.quantized") {
    val pattern = "floor(cast(x as double)"
    val hits = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      (line, i) <- Files.readAllLines(p).asScala.toSeq.zipWithIndex
      if !isComment(line) && line.contains(pattern)
    } yield s"$p:${i + 1}"
    assert(hits.size == 1 && hits.head.contains("graft/api/PqOps.scala"),
      s"${hits.size} copies of the milli-quantize staging:\n" +
        hits.mkString("\n"))
  }

  test("one MinHash sketch: outside graft/functions, graft_minhash and " +
    "graft_band_keys appear only in api/DedupOps") {
    val hits = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      if !p.toString.contains("graft/functions/") &&
        !p.endsWith("graft/api/DedupOps.scala")
      (line, i) <- Files.readAllLines(p).asScala.toSeq.zipWithIndex
      if !isComment(line) &&
        Seq("graft_minhash", "graft_band_keys").exists(line.contains)
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty,
      s"MinHash sketch written outside DedupOps:\n${hits.mkString("\n")}")
  }

  test("one basket-pair build: the x < y cut of the per-basket self-join " +
    "appears only in GraphOps.basketPairs") {
    // every copy of the (basket, item) self-join ends in this filter;
    // the graph operators' own x < y tests compare inside a CASE
    val pattern = """.filter(col("x") < col("y"))"""
    val hits = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      (line, i) <- Files.readAllLines(p).asScala.toSeq.zipWithIndex
      if !isComment(line) && line.contains(pattern)
    } yield s"$p:${i + 1}"
    assert(hits.size == 1 && hits.head.contains("graft/api/GraphOps.scala"),
      s"${hits.size} copies of the basket-pair build:\n" +
        hits.mkString("\n"))
  }

  private def lint(p: Path, lines: Seq[String]): Seq[String] = {
    {
      // pass 1: top-level strict-val declaration lines per name
      val decl = scala.collection.mutable.Map.empty[String, List[Int]]
      lines.zipWithIndex.foreach { case (line, i) =>
        if (!isComment(line))
          TopStrictVal.findFirstMatchIn(line).foreach(m =>
            decl.updateWith(m.group(1))(o => Some(i :: o.getOrElse(Nil))))
      }
      // pass 2: state machine — are we inside a top-level strict-val
      // initializer? flips on each top-level declaration opener. A
      // FUNCTION-TYPED val (decl line carries "=>", e.g. the queries
      // registry Map[String, (SparkSession, String) => DataFrame]) is
      // a safe context: its map values are lambdas whose bodies run at
      // call time, after object init — the eager-string vals (oracle
      // SQL maps, constant-interpolating strings) are the trap.
      var inStrictInit = false
      lines.zipWithIndex.flatMap { case (line, i) =>
        if (!isComment(line)) {
          if (TopStrictVal.findFirstIn(line).isDefined)
            inStrictInit = !line.contains("=>")
          else if (TopSafeDecl.findFirstIn(line).isDefined)
            inStrictInit = false
        }
        if (!inStrictInit || isComment(line)) Nil
        else Interp.findAllMatchIn(line).map(_.group(1)).flatMap { name =>
          decl.get(name) match {
            case Some(ds) if ds.forall(_ > i) =>
              Some(s"$p:${i + 1}: $$$name used in a val initializer " +
                s"above its declaration (line ${ds.map(_ + 1).min}) — " +
                "the pre-init default (0/null) would be embedded")
            case _ => None
          }
        }.toList
      }
    }
  }
}
