package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** Keeps one implementation per native kernel: library code builds
  * each kernel as its expression (a kernel-table row or one of the
  * kernel classes), so no `src/main` file may probe the session's
  * function registry or resolve a graft kernel by SQL name, and,
  * outside the vector kernels, generated code calls the Scala body
  * interpreted eval runs. */
class NativeKernelGuardSpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = {
    val stream = Files.walk(Paths.get("src/main"))
    try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map((p: Path) => (p.getFileName.toString, Files.readString(p))).toSeq
    finally stream.close()
  }

  test("no src/main file but GraftExtensions.scala mentions nativeAvailable") {
    val probing = mainSources.collect {
      case (name, text) if text.contains("nativeAvailable") => name
    }
    assert(probing == Seq("GraftExtensions.scala"))
  }

  test("no src/main call_function names a function GraftExtensions registers") {
    val registered = GraftExtensions.functions.map(_._1).toSet
    assert(registered.size == GraftExtensions.functions.size && registered("minhash_sig"))
    val called = "call_function\\(\\s*\"([A-Za-z0-9_]+)\"".r
    val byName = for {
      (file, text) <- mainSources
      m <- called.findAllMatchIn(text)
      if registered(m.group(1))
    } yield s"$file: ${m.group(1)}"
    assert(byName.isEmpty, byName)
  }

  /** The kernels that keep their loop in generated code: each reads a
    * float/double vector element by element, and only per-query
    * generated code keeps those reads monomorphic (see VecBinaryFold). */
  private val vectorLoopFiles = Set("VectorExprs.scala", "PqExprs.scala")

  test("no doGenCode under plans/ outside the vector kernels holds a loop") {
    val plans = mainSources.filter(_._2.startsWith("package graft.plans"))
    val loops = for {
      (file, text) <- plans
      lines = text.split("\n").toSeq
      (line, at) <- lines.zipWithIndex
      if line.contains("def doGenCode")
      indent = line.indexWhere(_ != ' ')
      // the method ends at the next line indented no deeper than its def
      body = lines.drop(at + 1).takeWhile(l =>
        l.trim.isEmpty || l.indexWhere(_ != ' ') > indent)
      if body.exists(l => l.contains("for (") || l.contains("while ("))
    } yield file
    assert(plans.exists(_._2.contains("def doGenCode")))
    assert(loops.toSet == vectorLoopFiles, s"doGenCode with its own loop: $loops")
  }

  /** The kernels that stay classes: three pin objects in generated code
    * and four keep their loop there; every other kernel is a row of the
    * kernel table on its three generic expressions. `LongParam` is no
    * kernel: it pins a per-call value in generated code. */
  private val kernelClasses = Set("MinHashSignature", "BloomMightContain",
    "CmsEstimate", "VecDot", "VecL2Sq", "PqEncode", "PqAdc",
    "UnaryKernel", "BinaryKernel", "TernaryKernel", "LongParam")

  test("no expression case class under plans/ outside the kernel classes") {
    val caseClass = "case class (\\w+)".r
    val declared = for {
      (_, text) <- mainSources if text.startsWith("package graft.plans")
      m <- caseClass.findAllMatchIn(text)
    } yield m.group(1)
    val expressions = declared.filter(name =>
      scala.util.Try(Class.forName(s"graft.plans.$name")).toOption
        .exists(classOf[Expression].isAssignableFrom))
    assert(expressions.toSet == kernelClasses,
      s"one-line kernels belong in the kernel table: ${expressions.toSet -- kernelClasses}")
  }
}
