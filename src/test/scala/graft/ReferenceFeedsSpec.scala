package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The generated stand-in for the reference feeds: reproducible bytes,
  * the real files' priority, and the data rule the mart-parity specs
  * rest on. */
class ReferenceFeedsSpec extends AnyFunSuite {
  private def withDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_ref_spec_")
    try body(dir)
    finally {
      Files.list(dir).forEach(f => Files.delete(f))
      Files.delete(dir)
    }
  }

  test("two generator runs write byte-identical files") {
    withDir { a =>
      withDir { b =>
        ReferenceFeeds.write(a)
        ReferenceFeeds.write(b)
        for (n <- ReferenceFeeds.FileNames)
          assert(Files.readAllBytes(a.resolve(n)).sameElements(Files.readAllBytes(b.resolve(n))), n)
      }
    }
  }

  test("a feed dir counts as the reference only when it holds all nine files") {
    withDir { d =>
      ReferenceFeeds.FileNames.init.foreach(n => Files.createFile(d.resolve(n)))
      assert(!ReferenceFeeds.holdsAll(d.toString))
      Files.createFile(d.resolve(ReferenceFeeds.FileNames.last))
      assert(ReferenceFeeds.holdsAll(d.toString))
    }
  }

  test("no generated transaction is at P9111, the terminal day 3 deletes") {
    withDir { d =>
      ReferenceFeeds.write(d)
      val terminals = ReferenceFeeds.FileNames.filter(_.endsWith(".txt")).flatMap { n =>
        Files.readAllLines(d.resolve(n)).asScala.drop(1).map(_.split(';').last.trim)
      }
      assert(terminals.size === ReferenceFeeds.TxPerDay.sum)
      assert(!terminals.contains("P9111"))
    }
  }
}
