package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedStore

/** Session state must not alias across sessions or dataset path
  * spellings: memo keys carry the session UUID and the normalized
  * path ([[Caches.memo]]), and published-artifact roots are one per
  * dataset, whatever its spelling.
  */
class SessionKeySpec extends AnyFunSuite {

  test("no main source keys state on System.identityHashCode") {
    // an identity hash is reused once its object is collected, so a
    // later session could be handed a dead session's state
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no main sources at ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("identityHashCode") => s"$p:${i + 1}"
          }
        }.toList
      finally files.close()
    assert(hits.isEmpty, s"identityHashCode-keyed state: ${hits.mkString(", ")}")
  }

  test("artifact roots: one per dataset, whatever the path spelling") {
    def root(dir: String) = VersionedStore.artifactRoot("bm25", dir)
    assert(root("/d/x") === root("/d/x/"))
    assert(root("/d/a_b") !== root("/d/a/b"))
  }
}
