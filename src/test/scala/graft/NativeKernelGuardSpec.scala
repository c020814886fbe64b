package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** Keeps one implementation per native kernel: library code builds
  * each kernel as its case class, so no `src/main` file may probe the
  * session's function registry or resolve a graft kernel by SQL name. */
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
}
