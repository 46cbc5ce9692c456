package graft

import java.nio.file.{Files, LinkOption, Paths, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FsConstants, Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[ForkFreeLocalFs]] against Hadoop's `LocalFs`: the same FileContext
  * operations, run in two fresh directories, must leave the same files
  * and modes, report the same link statuses and raise the same
  * exceptions. */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def context(forkFree: Boolean): FileContext = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    if (forkFree) conf.set(ForkFreeLocalFs.ImplKey, classOf[ForkFreeLocalFs].getName)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  /** What the operations leave and raise under a fresh root, one line each. */
  private def transcript(fc: FileContext): Seq[String] = {
    val root = Paths.get(TestSpark.tempDir("graft_fs_parity"))
    val log = Seq.newBuilder[String]
    def p(rel: String) = new Path(root.resolve(rel).toString)
    def attempt(what: String)(op: => Any): Unit =
      log += what + ": " + (try { op; "ok" } catch { case e: Exception => e.getClass.getName })
    def write(rel: String, text: String, perm: FsPermission): Unit = {
      val out = fc.create(p(rel), java.util.EnumSet.of(CreateFlag.CREATE),
        CreateOpts.perms(perm), CreateOpts.createParent())
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }

    fc.mkdir(p("d"), FsPermission.getDirDefault, false)
    fc.mkdir(p("d/e/f"), new FsPermission("750"), true)
    write("d/a", "alpha", FsPermission.getFileDefault)
    write("d/b", "beta", new FsPermission("640"))
    write("n/c", "gamma", FsPermission.getFileDefault)
    attempt("rename onto a file")(fc.rename(p("d/a"), p("d/b")))
    attempt("rename onto a file, overwrite")(fc.rename(p("d/a"), p("d/b"), Options.Rename.OVERWRITE))
    attempt("rename a missing file")(fc.rename(p("d/a"), p("d/z")))
    attempt("rename a dir onto a file, overwrite")(
      fc.rename(p("d/e"), p("d/b"), Options.Rename.OVERWRITE))
    attempt("rename to a new name")(fc.rename(p("d/b"), p("d/g")))
    attempt("sticky mode")(fc.setPermission(p("n"), new FsPermission("1750")))
    log += "n mode " + fc.getFileStatus(p("n")).getPermission

    Files.createSymbolicLink(root.resolve("d/link"), Paths.get("g"))
    // a scheme-qualified path hides a symlink from Hadoop's readlink
    // probe, so both forms are compared
    for (rel <- Seq("d/g", "d/e", "d/link", "d/missing"); uri <- Seq(false, true)) {
      val path = if (uri) new Path(root.toUri.toString, rel) else p(rel)
      attempt(s"link status of $rel (uri $uri)") {
        val st = fc.getFileLinkStatus(path)
        val target = if (st.isSymlink) st.getSymlink.toUri.getPath.stripPrefix(root.toString) else ""
        log += s"$rel (uri $uri): file ${st.isFile} dir ${st.isDirectory} link ${st.isSymlink} " +
          s"len ${if (st.isFile) st.getLen else -1} target $target"
      }
    }

    // flip one byte of a written file: its read must fail the checksum
    val data = root.resolve("n/c")
    val bytes = Files.readAllBytes(data)
    bytes(0) = (bytes(0) ^ 1).toByte
    Files.write(data, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    attempt("read a flipped byte") {
      // with a buffer size: Hadoop's one-argument FileContext.open skips
      // ChecksumFs (FilterFs delegates it to the raw file system)
      val in = fc.open(p("n/c"), 4096)
      try in.readAllBytes() finally in.close()
    }

    val tree = Files.walk(root)
    try tree.sorted.forEach { f =>
      log += s"${root.relativize(f)} " +
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f, LinkOption.NOFOLLOW_LINKS))
    } finally tree.close()
    log.result()
  }

  test("the fork-free binding matches Hadoop's LocalFs operation by operation") {
    val stock = context(forkFree = false)
    val forkFree = context(forkFree = true)
    assert(stock.getDefaultFileSystem.getClass === classOf[org.apache.hadoop.fs.local.LocalFs])
    assert(forkFree.getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
    val want = transcript(stock)
    assert(transcript(forkFree) === want)
    // the transcript is not vacuous: umask, exceptions and checksums showed
    assert(want.contains("d rwxr-x---") && want.contains("d/e/f rwxr-x---"), want)
    assert(want.contains("d/g rw-r-----") && want.contains("d/.g.crc rw-r-----"), want)
    assert(want.contains("rename onto a file: org.apache.hadoop.fs.FileAlreadyExistsException"), want)
    assert(want.contains("rename a missing file: java.io.FileNotFoundException"), want)
    assert(want.count(_.startsWith("link status of d/missing (uri")) == 2 &&
      want.count(_.endsWith("): java.io.FileNotFoundException")) == 2, want)
    assert(want.contains("d/link (uri false): file false dir false link true len -1 target /d/g"), want)
    assert(want.contains("d/link (uri true): file true dir false link false len 5 target "), want)
    assert(want.contains("read a flipped byte: org.apache.hadoop.fs.ChecksumException"), want)
    assert(want.contains("n mode rwxr-x--T"), want)
  }
}
