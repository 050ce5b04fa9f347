package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import graft.streaming.NioCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.scalatest.funsuite.AnyFunSuite

class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def withTempDir[T](body: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft-nio-ckpt")
    try body(dir)
    finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  /** A manager rooted at a fresh temp dir, removed afterwards. */
  private def withManager[T](body: (NioCheckpointFileManager, NioPath) => T): T =
    withTempDir(dir => body(new NioCheckpointFileManager(new Path(dir.toUri), new Configuration()), dir))

  private def write(fm: NioCheckpointFileManager, p: NioPath, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(p: NioPath): String = new String(Files.readAllBytes(p), UTF_8)

  private def names(dir: NioPath): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  test("close publishes the bytes and leaves no temp file") {
    withManager { (fm, dir) =>
      val f = dir.resolve("offsets").resolve("0")
      write(fm, f, "v1")
      assert(read(f) === "v1")
      assert(names(f.getParent) === Set("0"))
    }
  }

  test("the temp file is a hidden sibling until close, and cancel removes it") {
    withManager { (fm, dir) =>
      val out = fm.createAtomic(new Path(dir.resolve("1.delta").toUri), false)
      out.write(1)
      val inFlight = names(dir)
      assert(inFlight.size === 1)
      assert(inFlight.head.startsWith(".1.delta.") && inFlight.head.endsWith(".tmp"))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("no-overwrite onto an existing file throws and keeps the old bytes") {
    withManager { (fm, dir) =>
      val f = dir.resolve("commits")
      write(fm, f, "old")
      intercept[FileAlreadyExistsException](write(fm, f, "new"))
      assert(read(f) === "old")
      assert(names(dir) === Set("commits"))
    }
  }

  test("overwrite replaces the file") {
    withManager { (fm, dir) =>
      val f = dir.resolve("metadata")
      write(fm, f, "old")
      write(fm, f, "new", overwrite = true)
      assert(read(f) === "new")
      assert(names(dir) === Set("metadata"))
    }
  }

  test("list honours its filter and skips hidden temp files") {
    withManager { (fm, dir) =>
      Seq("0", "1", "x").foreach(n => write(fm, dir.resolve(n), n))
      val pending = fm.createAtomic(new Path(dir.resolve("2").toUri), false)
      try {
        val numeric = new PathFilter {
          def accept(p: Path): Boolean = p.getName.forall(_.isDigit)
        }
        assert(fm.list(new Path(dir.toUri), numeric).map(_.getPath.getName).sorted.toSeq ===
          Seq("0", "1"))
        assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).sorted.toSeq ===
          Seq("0", "1", "x"))
      } finally pending.cancel()
    }
  }

  test("open reads what was written; exists and delete, a missing path a no-op") {
    withManager { (fm, dir) =>
      val f = new Path(dir.resolve("state").resolve("0").toUri)
      write(fm, dir.resolve("state").resolve("0"), "abc")
      val in = fm.open(f)
      try assert(new String(in.readAllBytes(), UTF_8) === "abc") finally in.close()
      assert(fm.exists(f))
      fm.delete(new Path(dir.resolve("state").toUri))
      assert(!fm.exists(f))
      fm.delete(new Path(dir.resolve("missing").toUri))
    }
  }

  test("createCheckpointDirectory makes the root and returns a qualified file: path") {
    withTempDir { parent =>
      val root = parent.resolve("a").resolve("b")
      val fm = new NioCheckpointFileManager(new Path(root.toString), new Configuration())
      val q = fm.createCheckpointDirectory()
      assert(q.toUri.getScheme === "file")
      assert(q.toUri.getPath === root.toString)
      assert(Files.isDirectory(root))
      assert(fm.isLocal)
    }
  }

  test("a non-file scheme goes to Spark's default manager") {
    // viewfs://graft/ckpt mounts the temp dir; the java.nio path would
    // reject the scheme, so a working write proves the delegation.
    withTempDir { dir =>
      val conf = new Configuration()
      conf.set("fs.viewfs.mounttable.graft.link./ckpt", dir.toUri.toString)
      val fm = new NioCheckpointFileManager(new Path("viewfs://graft/ckpt"), conf)
      assert(!fm.isLocal)
      val out = fm.createAtomic(new Path("viewfs://graft/ckpt/0"), false)
      out.write("v".getBytes(UTF_8))
      out.close()
      assert(read(dir.resolve("0")) === "v")
      assert(fm.list(new Path("viewfs://graft/ckpt")).map(_.getPath.getName).toSeq === Seq("0"))
    }
  }
}
