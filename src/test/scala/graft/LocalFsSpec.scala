package graft

import graft.fs.{NioLocalFs, NioRawLocalFileSystem}
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's raw local file system answers `setPermission` and
  * `getFileLinkStatus` exactly as Hadoop's `RawLocalFileSystem` does,
  * on a temp tree and without Spark.
  */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val hadoop = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)
  private val root = Files.createTempDirectory("graft-localfs")

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Applies `perm` to a fresh twin per file system; returns both modes. */
  private def chmodBoth(dir: Boolean, start: String, perm: String, tag: String): (Int, Int) = {
    def twin(side: String) = {
      val p = root.resolve(s"$tag-$side")
      if (dir) Files.createDirectory(p) else Files.createFile(p)
      // through chmod itself: NIO cannot set the sticky/setgid start bits
      val rc = new ProcessBuilder("chmod", start, p.toString).inheritIO().start().waitFor()
      assert(rc == 0, s"chmod $start $p")
      p
    }
    val (a, b) = (twin("hadoop"), twin("nio"))
    hadoop.setPermission(new Path(a.toUri), new FsPermission(octal(perm).toShort))
    nio.setPermission(new Path(b.toUri), new FsPermission(octal(perm).toShort))
    (mode(a), mode(b))
  }

  for (dir <- Seq(false, true); perm <- Seq("0644", "0755", "0600", "0700")) {
    val kind = if (dir) "directory" else "file"
    test(s"setPermission $perm on a $kind: same mode as Hadoop's chmod") {
      val (h, n) = chmodBoth(dir, "0777", perm, s"$kind-$perm")
      assert(n == h)
      assert((n & octal("7777")) == octal(perm))
    }
  }

  test("setPermission 1777 on a directory takes Hadoop's path and gives the same mode") {
    val (h, n) = chmodBoth(dir = true, "0755", "1777", "sticky")
    assert(n == h)
    assert((n & octal("7777")) == octal("1777"))
  }

  test("setPermission 0755 on a setgid directory keeps setgid, as chmod does") {
    val (h, n) = chmodBoth(dir = true, "2700", "0755", "setgid")
    assert(n == h)
    assert((n & octal("7777")) == octal("2755"))
  }

  test("setPermission on a missing path fails on both") {
    val p = new Path(root.resolve("absent").toUri)
    val perm = new FsPermission(octal("0644").toShort)
    intercept[java.io.IOException](hadoop.setPermission(p, perm))
    intercept[java.io.IOException](nio.setPermission(p, perm))
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  private lazy val tree: Map[String, JPath] = {
    val t = Files.createDirectory(root.resolve("tree"))
    val file = Files.writeString(t.resolve("file"), "payload")
    val dir = Files.createDirectory(t.resolve("dir"))
    Map(
      "file" -> file,
      "directory" -> dir,
      "symlink" -> Files.createSymbolicLink(t.resolve("link"), file),
      "dangling symlink" -> Files.createSymbolicLink(t.resolve("dangling"), t.resolve("gone")),
      "missing path" -> t.resolve("missing"))
  }

  // `file:/…` is how FileContext asks (readlink never finds a link
  // there); a scheme-less path is one readlink resolves.
  for (kind <- Seq("file", "directory", "symlink", "dangling symlink", "missing path");
       (form, toPath) <- Seq[(String, JPath => Path)](
         "file: URI" -> (p => new Path(p.toUri)),
         "bare path" -> (p => new Path(p.toString)))) {
    test(s"getFileLinkStatus of a $kind ($form) equals Hadoop's") {
      val p = toPath(tree(kind))
      def ask(fs: RawLocalFileSystem) =
        try Right(fields(fs.getFileLinkStatus(p)))
        catch { case e: FileNotFoundException => Left(e.getClass.getName) }
      val h = ask(hadoop)
      assert(ask(nio) == h)
      if (kind == "missing path") assert(h == Left(classOf[FileNotFoundException].getName))
      if (form == "bare path" && kind.endsWith("symlink")) assert(h.exists(_._3), "a link on this path")
    }
  }

  test("FileContext through NioLocalFs: create and rename keep the .crc side file and Hadoop's mode") {
    def fc(impl: String) = {
      val c = new Configuration()
      c.set("fs.AbstractFileSystem.file.impl", impl)
      FileContext.getFileContext(URI.create("file:///"), c)
    }
    def roundTrip(ctx: FileContext, tag: String) = {
      val d = Files.createDirectory(root.resolve(s"fc-$tag"))
      val tmp = new Path(d.resolve("a.tmp").toUri)
      val out = ctx.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.perms(
        new FsPermission(octal("0640").toShort)))
      out.write("state".getBytes("UTF-8"))
      out.close()
      ctx.rename(tmp, new Path(d.resolve("a").toUri), Options.Rename.OVERWRITE)
      val names = d.toFile.list().sorted.toSeq
      (names, mode(d.resolve("a")), Files.readString(d.resolve("a")))
    }
    val default = roundTrip(fc(classOf[org.apache.hadoop.fs.local.LocalFs].getName), "hadoop")
    val engine = roundTrip(fc(classOf[NioLocalFs].getName), "nio")
    assert(engine == default)
    assert(engine._1 == Seq(".a.crc", "a"))
  }
}
