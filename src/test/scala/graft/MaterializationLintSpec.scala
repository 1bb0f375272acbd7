package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** The library materializes intermediates ONE way: `Plans.barrier`
  * (lazy `localCheckpoint`) or an eager `localCheckpoint`, both
  * reclaimed by Spark's ContextCleaner. `persist()`/`cache()` leave
  * entries in the caller's CacheManager, so no library source may call
  * them. This scan covers code no registry query reaches (tools mains,
  * size-dispatched trainer branches), which the per-query cache-hygiene
  * check in [[SparkEntrySpec]] cannot see.
  */
class MaterializationLintSpec extends AnyFunSpec with Matchers {
  private val Forbidden = """\.persist\s*\(|\.cache\s*\(\s*\)|unpersist\s*\(""".r

  describe("library materialization idiom") {
    it("no source under src/main calls persist, cache or unpersist") {
      val root = Paths.get("src/main/scala")
      val files = Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      files.map(_.getFileName.toString) should contain("Plans.scala")
      val violations = for {
        p <- files
        (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
        code = line.trim
        // doc and block-comment lines start with * or /*; a line
        // comment ends the code on its line
        if !code.startsWith("*") && !code.startsWith("/*")
        if Forbidden.findFirstIn(code.split("//", 2)(0)).isDefined
      } yield s"$p:${i + 1}: $code"
      violations shouldBe empty
    }
  }
}
