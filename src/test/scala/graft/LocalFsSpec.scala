package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local file system keeps the stock `file:` semantics:
  * permissions, link status, FileContext renames and `.crc` sidecars.
  */
class LocalFsSpec extends AnyFunSuite {
  private val conf = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    c
  }
  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val forkFree = raw(new ForkFreeRawLocalFileSystem)
  private lazy val stock = raw(new RawLocalFileSystem)
  private def tmpDir(): JPath = Files.createTempDirectory("graft-localfs")
  private def hpath(p: JPath) = new Path(p.toUri)
  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("permission modes set through the fork-free file system read back identically") {
    val dir = tmpDir()
    for (octal <- Seq("644", "755", "600", "700")) {
      val f = Files.createFile(dir.resolve("f" + octal))
      val d = Files.createDirectory(dir.resolve("d" + octal))
      for (p <- Seq(f, d)) {
        forkFree.setPermission(hpath(p), mode(octal))
        val got = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        assert(got == mode(octal).toString, s"$p mode $octal")
      }
    }
  }

  test("a sticky-bit mode takes the stock chmod path") {
    // NIO cannot set the sticky bit, so seeing it set proves the stock
    // (shell) path ran
    val d = Files.createDirectory(tmpDir().resolve("sticky"))
    forkFree.setPermission(hpath(d), mode("1755"))
    val got = Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    assert(got == Integer.parseInt("1755", 8), f"mode $got%o")
  }

  test("getFileLinkStatus on a symlink matches stock RawLocalFileSystem") {
    val dir = tmpDir()
    val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // stock readlink sees only a scheme-less path; both forms must agree
    for (p <- Seq(new Path(link.toString), hpath(link))) {
      val got = forkFree.getFileLinkStatus(p)
      val want = stock.getFileLinkStatus(p)
      assert(got.isSymlink == want.isSymlink, p)
      if (want.isSymlink) assert(got.getSymlink == want.getSymlink, p)
    }
    assert(forkFree.getFileLinkStatus(new Path(link.toString)).isSymlink)
    // a regular file is its own status, as in the stock code
    val plain = forkFree.getFileLinkStatus(hpath(target))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1L)
    assert(plain.getPath == stock.getFileLinkStatus(hpath(target)).getPath)
  }

  test("getFileLinkStatus on a missing path throws FileNotFoundException") {
    intercept[FileNotFoundException] {
      forkFree.getFileLinkStatus(hpath(tmpDir().resolve("missing")))
    }
  }

  test("FileContext rename with OVERWRITE replaces its target") {
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val dir = tmpDir()
    def write(name: String, body: String): Path = {
      val p = hpath(dir.resolve(name))
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(body.getBytes(UTF_8)) finally out.close()
      p
    }
    val src = write("src", "new")
    val dst = write("dst", "old!")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")))
    assert(new String(Files.readAllBytes(dir.resolve("dst")), UTF_8) == "new")
    // the checksum moved with the data: a checked read succeeds
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
  }

  test("writing through FileSystem.get(file:///) still leaves a .crc sidecar") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    val dir = tmpDir()
    val out = fs.create(hpath(dir.resolve("data")))
    try out.write("payload".getBytes(UTF_8)) finally out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
  }
}
