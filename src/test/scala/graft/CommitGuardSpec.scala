package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every table rewrite commits through `graft.io.Commit`,
  * the only code that knows the staging layout. Fails when a `_stage"`
  * (or `_stage/"`) path literal, or a parquet write that the same file
  * reads back from the same path (a hand-rolled "stage → read back →
  * overwrite"), shows up in the main sources anywhere else.
  */
class CommitGuardSpec extends AnyFunSuite {

  private val mainRoot = Paths.get(TestSpark.repoRoot, "src/main/scala")
  private val commitModule = mainRoot.resolve("graft/io/Commit.scala")

  /** Chained calls split across lines are joined first, so a
    * `.write…` chain and its `.parquet(…)` land on one line.
    */
  private def joined(src: String): String = src.replaceAll("\n\\s*\\.", ".")

  private val writeArg =
    """\.write\.(?:(?!saveAsTable|insertInto|\.read)[^\n])*?\.parquet\(([^()\n]*)\)""".r
  private val readArg = """\.read(?:\.schema\([^()\n]*\))?\.parquet\(([^()\n]*)\)""".r

  /** Violations in one source text: stage-path literals, and parquet
    * paths written and read back in the same file.
    */
  def violations(src: String): Seq[String] = {
    val code = joined(src)
    val stageLiterals = """_stage/?"""".r.findAllIn(code).map(_ => "`_stage\"` path literal")
    val written = writeArg.findAllMatchIn(code).map(_.group(1).trim).toSet
    val readBack = readArg.findAllMatchIn(code).map(_.group(1).trim)
      .filter(written).map(p => s"parquet($p) written and read back")
    (stageLiterals ++ readBack).toSeq.distinct
  }

  test("the detector flags a hand-rolled stage copy and a stage literal") {
    val handRolled =
      """val scratch = s"${wh}/__upsert_stage/" + t
        |merged.write.mode(SaveMode.Overwrite)
        |  .parquet(s"$scratch/merged")
        |spark.read.parquet(s"$scratch/merged").write.saveAsTable(t)
        |""".stripMargin
    assert(violations(handRolled).size == 2, violations(handRolled))
    assert(violations("""out.write.mode("overwrite").parquet(dir)""").isEmpty)
  }

  test("no staging copy outside the commit module") {
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != commitModule).toSeq
    assert(files.size > 50, s"source scan found only ${files.size} files")
    val bad = files.flatMap { (p: Path) =>
      violations(new String(Files.readAllBytes(p), "UTF-8"))
        .map(v => s"${mainRoot.relativize(p)}: $v")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
