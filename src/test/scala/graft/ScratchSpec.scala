package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The scratch owner: a `within` dir goes when its call ends, however
  * it ends; a `held` dir lies under the root and outlives calls; and
  * `delete` removes a link without following it. */
class ScratchSpec extends AnyFunSuite {

  test("within deletes its dir when the body returns") {
    var seen: Path = null
    val n = Scratch.within("scratchspec") { d =>
      seen = d
      Files.writeString(d.resolve("a.txt"), "a")
      Files.createDirectories(d.resolve("sub/deeper"))
      Files.writeString(d.resolve("sub/deeper/b.txt"), "b")
      42
    }
    assert(n == 42)
    assert(seen.startsWith(Scratch.root))
    assert(!Files.exists(seen))
  }

  test("within deletes its dir when the body throws") {
    var seen: Path = null
    val e = intercept[IllegalStateException](
      Scratch.within("scratchspec") { d =>
        seen = d
        Files.writeString(d.resolve("a.txt"), "a")
        throw new IllegalStateException("boom")
      })
    assert(e.getMessage == "boom")
    assert(seen != null && !Files.exists(seen))
  }

  test("held dirs lie under the root and survive a within") {
    val kept = Scratch.held("scratchheld")
    try {
      assert(kept.getParent == Scratch.root && Files.isDirectory(kept))
      Files.writeString(kept.resolve("x.txt"), "x")
      Scratch.within("scratchspec")(d => Files.writeString(d.resolve("y"), "y"))
      assert(Files.readString(kept.resolve("x.txt")) == "x")
    } finally Scratch.delete(kept)
    assert(!Files.exists(kept))
  }

  test("delete removes a link to an outside dir and leaves its target") {
    Scratch.within("scratchoutside") { outside =>
      val keep = Files.writeString(outside.resolve("keep.txt"), "keep")
      val tree = Scratch.held("scratchtree")
      Files.createDirectories(tree.resolve("sub"))
      Files.writeString(tree.resolve("sub/own.txt"), "own")
      Files.createSymbolicLink(tree.resolve("sub/link"), outside)
      Files.createSymbolicLink(tree.resolve("filelink"), keep)
      Scratch.delete(tree)
      assert(!Files.exists(tree, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(keep) == "keep")
      assert(Files.isDirectory(outside))
    }
  }

  test("delete of a link itself removes only the link") {
    Scratch.within("scratchoutside") { outside =>
      Files.writeString(outside.resolve("keep.txt"), "keep")
      val link = Files.createSymbolicLink(
        Scratch.root.resolve(s"scratchlink${System.nanoTime}"), outside)
      Scratch.delete(link)
      assert(!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(outside.resolve("keep.txt")) == "keep")
    }
  }

  test("delete of a missing path does nothing") {
    val gone = Scratch.root.resolve("scratch-never-made")
    Scratch.delete(gone)
    assert(!Files.exists(gone))
  }
}
