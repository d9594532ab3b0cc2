package graft

import java.net.URI
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GroupCommit, KeyedTable, NioLocalFileSystem, NioLocalFs}

/** The in-process `file:` filesystem (graft.sources.LocalFs.scala):
  * every observable result equals Hadoop's stock `LocalFileSystem` /
  * `LocalFs`, and creates, mkdirs, renames and listings start no child
  * process.
  * Forks are counted with an in-process JFR recording of
  * `jdk.ProcessStart`, keeping only commands that name this spec's
  * temp root (or the process scratch tree, for the stream query). */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  // the real path: Hadoop's chmod command names the canonical path
  private val root =
    Files.createTempDirectory("graft_localfs_").toRealPath().toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(root))
  }

  /** A `file:` implementation pair; `fs`/`fc` bypass the JVM-wide
    * FileSystem cache, so each call builds the named classes. */
  private final class Impl(val name: String, val fsClass: String,
      val afsClass: String) {
    def conf(umask: Option[String] = None): Configuration = {
      val c = new Configuration()
      c.set("fs.file.impl", fsClass)
      c.set("fs.AbstractFileSystem.file.impl", afsClass)
      c.setBoolean("fs.file.impl.disable.cache", true)
      umask.foreach(c.set("fs.permissions.umask-mode", _))
      c
    }
    def fs(umask: Option[String] = None): FileSystem =
      FileSystem.get(URI.create("file:///"), conf(umask))
    def fc(umask: Option[String] = None): FileContext =
      FileContext.getFileContext(URI.create("file:///"), conf(umask))
    /** A session sharing the test SparkContext whose Hadoop conf names
      * this pair. */
    def session(): SparkSession = {
      val s = spark.newSession()
      s.conf.set("fs.file.impl", fsClass)
      s.conf.set("fs.AbstractFileSystem.file.impl", afsClass)
      s.conf.set("fs.file.impl.disable.cache", "true")
      s
    }
  }
  private val stock = new Impl("stock", classOf[LocalFileSystem].getName,
    "org.apache.hadoop.fs.local.LocalFs")
  private val nio = new Impl("nio", classOf[NioLocalFileSystem].getName,
    classOf[NioLocalFs].getName)

  /** Commands of the processes started while `body` runs whose command
    * line names one of `under`. */
  private def forks(under: String*)(body: => Unit): Seq[String] = {
    val out = Files.createTempFile("graft_localfs_", ".jfr")
    try {
      Using.resource(new Recording()) { r =>
        r.enable("jdk.ProcessStart")
        r.start()
        try body finally r.stop()
        r.dump(out)
      }
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(c => under.exists(c.contains))
    } finally Files.deleteIfExists(out): Unit
  }

  private def put(fc: FileContext, p: String, body: String): Unit = {
    val out = fc.create(new Path(p),
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }
  private def put(fs: FileSystem, p: String, body: String): Unit = {
    val out = fs.create(new Path(p))
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  /** Every path under `dir` (relative) with `f` of it; links not followed. */
  private def tree[T](dir: String)(f: java.nio.file.Path => T): Map[String, T] = {
    val base = Paths.get(dir)
    Using.resource(Files.walk(base)) { s =>
      s.iterator.asScala.filter(_ != base)
        .map(p => base.relativize(p).toString -> f(p)).toMap
    }
  }
  private def mode(p: java.nio.file.Path): String = PosixFilePermissions
    .toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
  private def content(p: java.nio.file.Path): String =
    if (Files.isDirectory(p)) "<dir>"
    else new String(Files.readAllBytes(p), ISO_8859_1)

  /** Creates and mkdirs through both APIs; returns every mode made. */
  private def makeTree(impl: Impl, dir: String,
      umask: Option[String]): Map[String, String] = {
    val fs = impl.fs(umask)
    val fc = impl.fc(umask)
    fs.mkdirs(new Path(s"$dir/fs/a/b"))
    put(fs, s"$dir/fs/a/b/f", "x")
    put(fs, s"$dir/fs/new/g", "y") // parents made by create
    fc.mkdir(new Path(s"$dir/fc/a/b"), FsPermission.getDirDefault, true)
    put(fc, s"$dir/fc/a/b/f", "x")
    put(fc, s"$dir/fc/new/g", "y")
    tree(dir)(mode)
  }

  test("the classes resolve from the conf keys") {
    assert(nio.fs().getClass == classOf[NioLocalFileSystem])
    assert(nio.fc().getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(stock.fs().getClass == classOf[LocalFileSystem])
  }

  test("file and directory modes after create/mkdirs match Hadoop's, " +
      "under the default umask and under 077") {
    val byUmask = Seq(None, Some("077")).map { u =>
      val tag = u.getOrElse("default")
      val want = makeTree(stock, s"$root/modes_stock_$tag", u)
      val got = makeTree(nio, s"$root/modes_nio_$tag", u)
      assert(got == want, s"umask $tag")
      assert(want.contains("fs/a/b/.f.crc") && want.contains("fc/new/.g.crc"))
      want
    }
    // the umask reaches the modes: 077 leaves group and others nothing
    assert(byUmask(0)("fs/a/b/f") == "rw-r--r--")
    assert(byUmask(1)("fs/a/b/f") == "rw-------")
    assert(byUmask(1)("fc/a/b") == "rwx------")
  }

  test("getFileStatus and getFileLinkStatus match Hadoop's on a file, " +
      "a directory, a symlink and a dangling symlink") {
    val dir = s"$root/links"
    Files.createDirectories(Paths.get(s"$dir/d"))
    Files.write(Paths.get(s"$dir/f"), "data".getBytes(UTF_8))
    Files.createSymbolicLink(Paths.get(s"$dir/l"), Paths.get(s"$dir/f"))
    Files.createSymbolicLink(Paths.get(s"$dir/dl"), Paths.get(s"$dir/gone"))
    def view(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory,
      st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getLen,
      st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)
    def outcome(st: => FileStatus) = Try(view(st)).toEither
      .left.map(e => (e.getClass.getName, e.getMessage))
    type Call = (Impl, Path) => FileStatus
    val calls: Seq[(String, Call)] = Seq(
      "fs.getFileStatus" -> ((i, p) => i.fs().getFileStatus(p)),
      "fs.getFileLinkStatus" -> ((i, p) => i.fs().getFileLinkStatus(p)),
      "fc.getFileStatus" -> ((i, p) => i.fc().getFileStatus(p)),
      "fc.getFileLinkStatus" -> ((i, p) => i.fc().getFileLinkStatus(p)))
    val seen = for {
      name <- Seq("f", "d", "l", "dl")
      path <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))
      (call, f) <- calls
    } yield {
      val want = outcome(f(stock, path))
      assert(outcome(f(nio, path)) == want, s"$call($path)")
      want
    }
    // the cases are distinct: a link, a followed link and a missing target
    assert(seen.exists(_.exists(_._4)))
    assert(seen.exists(_.isLeft))
  }

  test("permission, owner and group of looked-up and listed statuses " +
      "match Hadoop's (ls -ld)") {
    val dir = s"$root/perms"
    Seq("d", "sticky", "setgid")
      .foreach(n => Files.createDirectories(Paths.get(s"$dir/$n")))
    Files.write(Paths.get(s"$dir/f"), "data".getBytes(UTF_8))
    Files.createSymbolicLink(Paths.get(s"$dir/l"), Paths.get(s"$dir/f"))
    Seq("640" -> "f", "1755" -> "sticky", "2750" -> "setgid").foreach {
      case (m, n) =>
        assert(new ProcessBuilder("chmod", m, s"$dir/$n").start().waitFor() == 0)
    }
    def perms(st: FileStatus) =
      (st.getPath.getName, st.getPermission, st.getOwner, st.getGroup)
    def statuses(impl: Impl) = {
      val fs = impl.fs()
      val located = fs.listLocatedStatus(new Path(dir))
      (fs.listStatus(new Path(dir)).map(perms).toSet,
        Iterator.continually(located).takeWhile(_.hasNext)
          .map(it => perms(it.next())).toSet,
        Seq("f", "d", "l", "sticky", "setgid")
          .map(n => perms(fs.getFileStatus(new Path(s"$dir/$n")))),
        fs.listStatus(new Path(s"$dir/f")).map(perms).toSeq)
    }
    val want = statuses(stock)
    assert(statuses(nio) == want)
    assert(want._3.map(_._2.toString) ==
      Seq("rw-r-----", "rwxr-xr-x", "rw-r-----", "rwxr-xr-t", "rwxr-x---"))
  }

  /** FileContext rename without and then with OVERWRITE. */
  private def renames(impl: Impl, dir: String): (String, Map[String, String]) = {
    val fc = impl.fc()
    put(fc, s"$dir/src", "new contents")
    put(fc, s"$dir/dst", "old")
    val plain = Try(fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst")))
      .failed.map(_.getClass.getName).getOrElse("no error")
    fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"),
      Options.Rename.OVERWRITE)
    (plain, tree(dir)(content))
  }

  test("FileContext rename with and without OVERWRITE matches Hadoop's, " +
      "the .crc moving along") {
    val want = renames(stock, s"$root/rename_stock")
    val got = renames(nio, s"$root/rename_nio")
    assert(got == want)
    assert(got._1 == classOf[FileAlreadyExistsException].getName)
    assert(got._2.keySet == Set("dst", ".dst.crc"))
    assert(got._2("dst") == "new contents")
  }

  test("a mode above 0777 goes to Hadoop's chmod") {
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    val modes = Seq(stock, nio).map { impl =>
      val dir = s"$root/sticky_${impl.name}"
      val fs = impl.fs()
      fs.mkdirs(new Path(dir))
      val started = forks(root)(fs.setPermission(new Path(dir), sticky))
      assert(started.exists(_.startsWith("chmod")), impl.name)
      Files.getAttribute(Paths.get(dir), "unix:mode").asInstanceOf[Int] & 0xfff
    }
    assert(modes == Seq(0x3ed, 0x3ed)) // 01755
  }

  /** Creates, mkdirs and renames through both APIs, and a listing. */
  private def churn(impl: Impl, dir: String): Unit = {
    val fs = impl.fs()
    val fc = impl.fc()
    fs.mkdirs(new Path(s"$dir/fs/a"))
    put(fs, s"$dir/fs/a/f", "x")
    fs.rename(new Path(s"$dir/fs/a/f"), new Path(s"$dir/fs/a/g"))
    fc.mkdir(new Path(s"$dir/fc/a"), FsPermission.getDirDefault, true)
    put(fc, s"$dir/fc/a/f", "x")
    put(fc, s"$dir/fc/a/g", "y")
    fc.rename(new Path(s"$dir/fc/a/f"), new Path(s"$dir/fc/a/g"),
      Options.Rename.OVERWRITE)
    fc.rename(new Path(s"$dir/fc/a/g"), new Path(s"$dir/fc/b"))
    val listed = fs.listLocatedStatus(new Path(s"$dir/fs/a"))
    while (listed.hasNext) listed.next()
  }

  test("creates, mkdirs, renames and listings start no process; " +
      "the stock classes do") {
    assert(forks(root)(churn(nio, s"$root/churn_nio")).isEmpty)
    val control = forks(root)(churn(stock, s"$root/churn_stock"))
    assert(control.exists(_.startsWith("chmod")), control)
    assert(control.exists(_.startsWith("readlink")), control)
    assert(control.exists(_.startsWith("ls ")), control)
  }

  private def upsert(cur: DataFrame, ch: DataFrame): DataFrame =
    cur.join(ch.select("k"), Seq("k"), "left_anti")
      .unionByName(ch.select(cur.columns.toSeq.map(ch.col): _*))

  /** KeyedTable write → merge → compact, a group commit and
    * q_stream_tumbling in `s`; returns every read-back. */
  private def writePaths(s: SparkSession, dir: String): Seq[Seq[Row]] = {
    val kt = s"$dir/kt"
    KeyedTable.write(s, kt, "t",
      s.range(0, 2000).selectExpr("id AS k", "id * 3 AS v"), "k", 4)
    KeyedTable.mergeDelta(s, kt, "t",
      s.range(1500, 2500, 7).selectExpr("id AS k", "id * 5 AS v"), "k")(upsert)
    KeyedTable.compact(s, kt, "t", "k", 4096L)
    val sinks = Seq("a" -> s.range(100).toDF("id"),
      "b" -> s.range(50).selectExpr("id * 2 AS id"))
    GroupCommit.commitGroup(s, s"$dir/gc",
      sinks.map { case (n, df) => GroupCommit.Sink(df, s"$dir/gc/$n") })
    Seq(KeyedTable.read(s, kt, "t").orderBy("k").collect().toSeq) ++
      sinks.map { case (n, _) =>
        s.read.parquet(s"$dir/gc/$n").orderBy("id").collect().toSeq
      } :+ SparkEntry.queries("q_stream_tumbling")(s, sf).collect().toSeq
  }

  test("KeyedTable, GroupCommit and q_stream_tumbling through the new " +
      "classes: the stock results, no chmod, readlink or ls") {
    def run(impl: Impl): (Seq[Seq[Row]], Seq[String]) = {
      var out = Seq.empty[Seq[Row]]
      val started = forks(root, ProcScratch.base) {
        out = writePaths(impl.session(), s"$root/e2e_${impl.name}")
      }
      (out, started.filter(c => Seq("chmod", "readlink", "ls ")
        .exists(c.startsWith)))
    }
    val (want, stockForks) = run(stock)
    val (got, nioForks) = run(nio)
    assert(got == want)
    assert(want.forall(_.nonEmpty))
    assert(nioForks.isEmpty, nioForks.take(5))
    assert(stockForks.nonEmpty)
  }

  test("GraftSession.builder() names both classes for file:") {
    val b = GraftSession.builder()
    val opts = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(opts.get("spark.hadoop.fs.file.impl")
      .contains(classOf[NioLocalFileSystem].getName))
    assert(opts.get("spark.hadoop.fs.AbstractFileSystem.file.impl")
      .contains(classOf[NioLocalFs].getName))
  }
}
