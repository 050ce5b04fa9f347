package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import graft.core.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

class NioLocalFileSystemSpec extends SparkSpec {

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** The full POSIX mode of `p`, sticky bit included. */
  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("the session's file: filesystem is NioLocalFileSystem") {
    // A plain LocalFileSystem cached before the session was built would be
    // reused silently, forking chmod per file again.
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
  }

  test("permissions match Hadoop's own setPermission; only a sticky mode forks chmod") {
    val root = Files.createTempDirectory("graft-nio-fs")
    val hadoop = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioLocalFileSystem.Raw)
    // (case, the operation on a fresh path, the mode Hadoop's default umask
    // 022 gives, whether the nio filesystem forks chmod for it)
    val cases: Seq[(String, (RawLocalFileSystem, Path) => Unit, String, Boolean)] = Seq(
      ("create under the default umask", (fs, p) => fs.create(p).close(), "644", false),
      ("mkdirs 0750", (fs, p) => { fs.mkdirs(p, perm("750")); () }, "750", false),
      ("setPermission 0640", (fs, p) => {
        fs.create(p).close(); fs.setPermission(p, perm("640")) }, "640", false),
      ("sticky setPermission 1777", (fs, p) => {
        fs.mkdirs(p); fs.setPermission(p, perm("1777")) }, "1777", true))
    try cases.zipWithIndex.foreach { case ((name, op, expected, forks), i) =>
      val (h, n) = (root.resolve(s"hadoop-$i"), root.resolve(s"nio-$i"))
      op(hadoop, new Path(h.toUri))
      val commands = processesStartedDuring(op(nio, new Path(n.toUri)))
      assert(mode(n) === mode(h), name)
      assert(mode(h) === Integer.parseInt(expected, 8), name)
      assert(commands.exists(_.startsWith("chmod")) === forks, s"$name: $commands")
    } finally graft.ops.Staged.deleteRecursively(root.toFile)
  }
}
