package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Pins the NIO permission loading of GraftRawLocalFileSystem (r20):
  * getFileStatus/listStatus statuses must report byte-identical
  * permission/owner/group to Hadoop's stock RawLocalFileSystem, whose
  * DeprecatedRawLocalFileStatus forks `ls -ld` per first permission
  * read (the r19 verdict's remaining Shell fork source). */
class GraftFsSpec extends AnyFunSuite {

  private def freshDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_fs_spec").toFile
    d.deleteOnExit(); d
  }

  private def stockFs(): org.apache.hadoop.fs.RawLocalFileSystem = {
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def graftFs(): graft.sources.GraftRawLocalFileSystem = {
    val fs = new graft.sources.GraftRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("getFileStatus permission/owner/group match the stock ls loader") {
    val dir = freshDir()
    val modes = Seq("755", "644", "600", "444", "1777") // incl. sticky
    val files = modes.map { m =>
      val f = new java.io.File(dir, s"f_$m")
      java.nio.file.Files.writeString(f.toPath, "x")
      // set the mode through NIO+shell so sticky lands too
      Runtime.getRuntime.exec(Array("chmod", m, f.getAbsolutePath)).waitFor()
      f
    }
    val g = graftFs(); val s = stockFs()
    files.foreach { f =>
      val p = new Path(f.getAbsolutePath)
      val gs = g.getFileStatus(p)
      val ss = s.getFileStatus(p)
      assert(gs.getPermission === ss.getPermission, s"perm of $f")
      assert(gs.getOwner === ss.getOwner, s"owner of $f")
      assert(gs.getGroup === ss.getGroup, s"group of $f")
      assert(gs.getLen === ss.getLen)
      assert(gs.getModificationTime === ss.getModificationTime)
    }
  }

  test("listStatus entries carry NIO-loaded permissions identical to stock") {
    val dir = freshDir()
    (1 to 3).foreach { i =>
      val f = new java.io.File(dir, s"part$i")
      java.nio.file.Files.writeString(f.toPath, "y")
    }
    val sub = new java.io.File(dir, "subdir"); sub.mkdir()
    val g = graftFs(); val s = stockFs()
    val p = new Path(dir.getAbsolutePath)
    val gl = g.listStatus(p).sortBy(_.getPath.getName)
    val sl = s.listStatus(p).sortBy(_.getPath.getName)
    assert(gl.map(_.getPath) === sl.map(_.getPath))
    gl.zip(sl).foreach { case (a, b) =>
      assert(a.getPermission === b.getPermission, s"perm of ${a.getPath}")
      assert(a.getOwner === b.getOwner)
      assert(a.getGroup === b.getGroup)
      assert(a.isDirectory === b.isDirectory)
    }
  }

  test("setPermission round-trips through the NIO status read") {
    val dir = freshDir()
    val f = new java.io.File(dir, "rt")
    java.nio.file.Files.writeString(f.toPath, "z")
    val g = graftFs()
    val p = new Path(f.getAbsolutePath)
    g.setPermission(p, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(g.getFileStatus(p).getPermission ===
      new FsPermission(Integer.parseInt("640", 8).toShort))
  }

  test("toString of a fresh status shows the real permission, owner and group") {
    val dir = freshDir()
    val f = new java.io.File(dir, "shown")
    java.nio.file.Files.writeString(f.toPath, "s")
    Runtime.getRuntime.exec(Array("chmod", "600", f.getAbsolutePath)).waitFor()
    val p = new Path(f.getAbsolutePath)
    // toString first: no getter has loaded the attributes yet
    val shown = graftFs().getFileStatus(p).toString
    val stock = stockFs().getFileStatus(p)
    assert(shown.contains(s"permission=${stock.getPermission}"), shown)
    assert(shown.contains(s"owner=${stock.getOwner}"), shown)
    assert(shown.contains(s"group=${stock.getGroup}"), shown)
    assert(stock.getPermission.toString === "rw-------")
  }
}
