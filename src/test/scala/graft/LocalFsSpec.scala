package graft

import java.io.FileNotFoundException
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Shell
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem: its overrides answer as Hadoop's own
  * local filesystem does, and a session that writes, reads and streams
  * through it starts no `chmod`/`readlink`/`ls`/`stat` subprocess. The
  * session runs in a child JVM; this one never starts `spark`. */
class LocalFsSpec extends SparkTestBase {
  import LocalFsSpec._

  private val conf = new Configuration()
  conf.set("fs.AbstractFileSystem.file.impl",
    classOf[sources.LocalFs].getName)
  private val ours = init(new sources.LocalFileSystem)
  private val stock = init(new org.apache.hadoop.fs.LocalFileSystem)

  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def local(p: Path) = Paths.get(p.toUri.getPath)

  private def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory,
    s.isSymlink, s.getReplication, s.getBlockSize, s.getModificationTime,
    s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)

  private def mode(p: Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(local(p)))

  test("a new file and a new dir get Hadoop's mode bits and status") {
    val root = new Path(Scratch.fresh("localfs"))
    for ((fs, side) <- Seq(ours -> "ours", stock -> "stock")) {
      fs.create(new Path(root, s"$side.bin")).close()
      fs.create(new Path(root, s"$side-640.bin"), new FsPermission(octal("640")),
        false, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(root, s"$side-dir"))
      fs.mkdirs(new Path(root, s"$side-751"), new FsPermission(octal("751")))
    }
    for (name <- Seq("%s.bin", ".%s.bin.crc", "%s-640.bin", "%s-dir", "%s-751")) {
      val (o, s) = (new Path(root, name.format("ours")),
        new Path(root, name.format("stock")))
      assert(mode(o) == mode(s), name)
    }
    assert(mode(new Path(root, "ours-640.bin")) == "rw-r-----")
    assert(mode(new Path(root, "ours-751")) == "rwxr-x--x")
    for (p <- ours.listStatus(root).map(_.getPath)) {
      assert(fields(ours.getFileStatus(p)) == fields(stock.getFileStatus(p)), p)
      assert(ours.listStatus(p).map(fields).toSeq ==
        stock.listStatus(p).map(fields).toSeq, p)
    }
    assert(ours.listStatus(root).map(fields).toSeq.sortBy(_._1.toString) ==
      stock.listStatus(root).map(fields).toSeq.sortBy(_._1.toString))
  }

  test("a sticky-bit permission still applies and reads back") {
    val dir = new Path(Scratch.fresh("localfs"), "sticky")
    ours.mkdirs(dir)
    ours.setPermission(dir, new FsPermission(octal("1755")))
    val m = Files.getAttribute(local(dir), "unix:mode").asInstanceOf[Int]
    assert((m & octal("7777")) == octal("1755"))
    val got = ours.getFileStatus(dir).getPermission
    assert(got.getStickyBit && got == stock.getFileStatus(dir).getPermission)
  }

  test("a symlink still reports isSymlink with its target") {
    val root = Scratch.fresh("localfs")
    val target = Paths.get(root, "target.txt")
    Files.writeString(target, "x")
    val link = new Path(Files.createSymbolicLink(Paths.get(root, "link"), target)
      .toString)
    val st = ours.getFileLinkStatus(link)
    assert(st.isSymlink && fields(st) == fields(stock.getFileLinkStatus(link)))
    assert(st.getSymlink == stock.getFileLinkStatus(link).getSymlink)
    assert(fields(ours.getFileStatus(link)) == fields(stock.getFileStatus(link)))
    // FileContext passes qualified paths, on which Hadoop's own
    // `readlink` finds no link: match it, whatever it reports
    val viaFc = Seq(conf, new Configuration()).map { c =>
      val s = FileContext.getFileContext(URI.create("file:///"), c)
        .getFileLinkStatus(link)
      (fields(s), if (s.isSymlink) Some(s.getSymlink) else None)
    }
    assert(viaFc.head == viaFc.last)
  }

  test("a missing path still throws FileNotFoundException") {
    val missing = new Path(Scratch.fresh("localfs"), "missing")
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    intercept[FileNotFoundException](ours.getFileStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.listStatus(missing))
    intercept[FileNotFoundException](fc.getFileStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
  }

  test("a session's stream, sink and listing start no chmod/readlink/ls/stat") {
    val tmp = Scratch.fresh("localfs-fork")
    val bin = Files.createDirectories(Paths.get(tmp, "bin"))
    val log = Paths.get(tmp, "forks.log")
    val path = sys.env.getOrElse("PATH", "/usr/bin:/bin")
    for (cmd <- Wrapped) {
      val real = path.split(':').map(Paths.get(_, cmd))
        .find(Files.isExecutable(_)).fold("exit 127")(r => s"""exec $r "$$@"""")
      val w = bin.resolve(cmd)
      Files.writeString(w, s"#!/bin/sh\necho \"$cmd $$*\" >> '$log'\n$real\n")
      Files.setPosixFilePermissions(w, PosixFilePermissions.fromString("rwxr-xr-x"))
    }
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val pb = new ProcessBuilder((Seq(java.toString) ++ jvmFlags ++ Seq(
        "-Xmx1g", s"-Djava.io.tmpdir=$tmp", "-cp",
        System.getProperty("java.class.path"), "graft.LocalFsForkProbe",
        sf0001, tmp)): _*)
      .redirectErrorStream(true)
    pb.environment().put("PATH", s"$bin:$path")
    val child = pb.start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, out.takeRight(4000))
    // the probe's closing `ls` shows the wrappers were on its PATH
    val forks = Files.readAllLines(log).asScala.toSeq
    assert(forks == Seq(s"ls -d $tmp"),
      s"${forks.size} subprocesses:\n${forks.take(20).mkString("\n")}")
    assert(out.contains(s"fs=${classOf[sources.LocalFileSystem].getName}"), out)
    assert(out.contains(s"fc=${classOf[sources.LocalFs].getName}"), out)
  }
}

object LocalFsSpec {
  /** Commands Hadoop's local filesystem runs without `libhadoop`. */
  val Wrapped = Seq("chmod", "readlink", "ls", "stat")

  def octal(s: String): Short = Integer.parseInt(s, 8).toShort
}

/** Child-JVM body of LocalFsSpec's fork test: a stream parity run, a
  * parquet sink of more than 32 files read back and listed, then one
  * deliberate `ls` through Hadoop's Shell. Prints the classes the
  * session's `file:` URIs resolve to. */
object LocalFsForkProbe {
  def main(args: Array[String]): Unit = {
    val Array(corpus, tmp) = args
    val spark = GraftSession.local(2, appName = "localfs-fork")
    val hc = spark.sparkContext.hadoopConfiguration
    println(s"fs=${FileSystem.get(URI.create("file:///"), hc).getClass.getName}")
    println(s"fc=${FileContext.getFileContext(URI.create("file:///"), hc)
      .getDefaultFileSystem.getClass.getName}")
    val windows = streaming.EventStream
      .tumblingCountsParityRun(spark, s"$corpus/events.parquet").count()
    val sink = Scratch.fresh("sink")
    spark.range(0, 4000, 1, 40).write.mode("overwrite").parquet(sink)
    val rows = spark.read.parquet(sink).count()
    val planned = sources.Compaction.plannedFiles(spark, sink, 1L << 20)
    require(windows > 0 && rows == 4000 && planned == 1, (windows, rows, planned))
    spark.stop()
    Shell.execCommand("ls", "-d", tmp)
    println(s"windows=$windows rows=$rows")
  }
}
