package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level guards on the program's entry points and process-global
  * knobs. Per-layer measurement lives in the perfbench harness, so the
  * library carries no profiler mains and no A/B-only switches: operator
  * defaults are constants, overridable only through function parameters,
  * and the one engine setting read from the session is the deployment's
  * checkpoint mode. State commit paths each have one home: micro-batch
  * progress lives in the state store, and the distributed dense index in
  * the relay's batch numbering. */
class SourceGuardSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src", "main", "scala")

  private def sources(under: Path): Seq[(Path, String)] = {
    val walk = Files.walk(under)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sorted.map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("src/main defines exactly the four allowlisted mains") {
    val objectRe = """\bobject\s+(\w+)""".r
    val mains = for {
      (_, text) <- sources(mainRoot)
      m <- """\bdef\s+main\s*\(""".r.findAllMatchIn(text)
    } yield objectRe.findAllMatchIn(text.take(m.start)).map(_.group(1)).toSeq.last
    assert(mains.sorted == Seq("Bench", "PlanAudit", "ScaleSmoke", "Verify"))
  }

  test("operators, expressions and ExecPolicy read no environment variable") {
    val guarded = sources(mainRoot.resolve("graft/ops")) ++
      sources(mainRoot.resolve("graft/expressions")) ++
      sources(mainRoot.resolve("graft/runtime")).filter(_._1.endsWith("ExecPolicy.scala"))
    assert(guarded.exists(_._1.endsWith("ExecPolicy.scala")))
    val readers = guarded.collect {
      case (p, text) if text.contains("sys.env") || text.contains("System.getenv") => p
    }
    assert(readers.isEmpty, s"environment reads in: ${readers.mkString(", ")}")
  }

  test("spark.graft.checkpointMode is the only spark.graft.* key in src/main") {
    val keys = sources(mainRoot).flatMap { case (_, text) =>
      """spark\.graft\.(\w+)""".r.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(keys == Set("checkpointMode"))
  }

  test("batch progress and distributed dense ids each have one home") {
    def holders(token: String) = sources(mainRoot).collect {
      case (p, text) if text.contains(token) => p.getFileName.toString
    }
    assert(holders("committed_batch") == Seq("Stores.scala"))
    assert(holders(".rdd.zipWithIndex") == Seq("Windows.scala"))
  }
}
