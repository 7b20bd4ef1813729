package pipeline

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import pipeline.fixtures.Webtext
import pipeline.io.{NioLocalFileSystem, NioLocalFs}

/**
 * The session binds Hadoop's `file:` scheme to `pipeline.io.NioLocalFileSystem`
 * / `NioLocalFs`. Without `libhadoop` the stock local filesystem forks a
 * `chmod` for every file, `.crc` file and directory it creates and a
 * `readlink` for every `FileContext` rename. JFR's `jdk.ProcessStart` event
 * counts those forks; the binding must leave none, and must write the same
 * modes and checksum files as the stock filesystem.
 */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "localfs-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  /** Commands of the processes the JVM started while `f` ran. */
  private def forks(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("localfs-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  /** The instrument is live: starting a process records one event. */
  private def assertCounting(): Unit = {
    val n = forks(new ProcessBuilder("true").start().waitFor()).count(_ == "true")
    assert(n == 1, s"one started process recorded $n events")
  }

  /** Runs `f` on each stock local filesystem: what `file:` resolves to with
    * `fs.file.impl` unset (with Spark's Hive jars on the classpath, the
    * service loader can pick Hive's `ProxyLocalFileSystem`, a filter over
    * `LocalFileSystem`), and `LocalFileSystem` itself. */
  private def withStockFs(f: FileSystem => Unit): Unit =
    Seq(None, Some(classOf[LocalFileSystem].getName)).foreach { impl =>
      val conf = new Configuration()
      impl.foreach(conf.set("fs.file.impl", _))
      val fs = FileSystem.newInstance(new URI("file:///"), conf)
      assert(!fs.isInstanceOf[NioLocalFileSystem])
      try f(fs) finally fs.close()
    }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → mode for every file and directory under `root`. */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator.asScala.map(p => root.relativize(p).toString -> mode(p)).toMap

  test("runFused, a fresh and a restarted AvailableNow stream fork no process for their files") {
    val s = sc
    assertCounting()
    val dir = Files.createTempDirectory("localfs-forks").toString
    val input = Webtext.df(s, 800L, 2)
    // processes for this run's files name them; the JVM may also fork once
    // for itself at any time (Spark's `getconf PAGESIZE`)
    def own(f: Seq[String]) = f.filter(_.contains(dir))
    val fused = own(forks(Pipeline.runFused(s, input, s"$dir/fused")))

    input.write.parquet(s"$dir/landing")
    def stream(): Unit = {
      val q = Streaming.startDocs(
        Streaming.readWebtext(s, s"$dir/landing", maxFilesPerTrigger = 1), s"$dir/stream")
      q.awaitTermination()
      assert(q.exception.isEmpty)
    }
    val fresh = own(forks(stream()))
    // one more landed file, so the restart commits a batch on the old checkpoint
    Webtext.df(s, 200L, 1).write.mode("append").parquet(s"$dir/landing")
    val restart = own(forks(stream()))
    assert(new pipeline.io.Ledger(s"$dir/stream").committedUnits().size == 3)

    def show(f: Seq[String]) = f.groupBy(_.takeWhile(_ != ' ')).map { case (c, v) => s"$c×${v.size}" }
    assert(fused.size + fresh.size + restart.size == 0,
      s"forks: runFused ${fused.size} ${show(fused)}, fresh stream ${fresh.size} " +
        s"${show(fresh)}, restarted stream ${restart.size} ${show(restart)}")
  }

  test("runFused writes the modes and .crc files of a stock LocalFileSystem") {
    val s = sc
    val dir = Files.createTempDirectory("localfs-modes")
    Pipeline.runFused(s, Webtext.df(s, 800L, 2), s"$dir/fused")
    val written = dir.resolve("fused/routed")
    val got = modes(written)
    val data = got.keys.filter(_.endsWith(".parquet")).toSeq
    assert(data.nonEmpty)
    data.foreach { f =>
      val i = f.lastIndexOf('/') + 1
      assert(got.contains(s"${f.take(i)}.${f.drop(i)}.crc"), s"$f has no .crc sibling")
    }

    // the same tree through each stock filesystem: directories, then files
    val (dirs, files) = got.keys.toSeq.filterNot(_.endsWith(".crc"))
      .partition(f => Files.isDirectory(written.resolve(f)))
    withStockFs { stock =>
      val mirror = dir.resolve(s"stock-${stock.getClass.getSimpleName}")
      dirs.sorted.foreach(d => stock.mkdirs(new Path(mirror.resolve(d).toUri)))
      files.foreach { f =>
        val out = stock.create(new Path(mirror.resolve(f).toUri), true)
        try out.write(Files.readAllBytes(written.resolve(f))) finally out.close()
      }
      val want = modes(mirror)
      assert(got.keySet == want.keySet, s"same files and .crc siblings as ${stock.getClass}")
      val differ = got.filter { case (f, m) => want(f) != m }
        .map { case (f, m) => f"$f: $m%o vs stock ${want(f)}%o" }
      assert(differ.isEmpty, differ.mkString("\n"))
    }
  }

  test("every rwx mode round-trips in-process; a sticky-bit mode takes the stock chmod path") {
    sc
    val fs = FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
    val dir = Files.createTempDirectory("localfs-modes")
    val file = new Path(Files.createFile(dir.resolve("f")).toUri)
    val all = forks((0 until 512).foreach { m =>
      fs.setPermission(file, new FsPermission(m.toShort))
      assert(mode(dir.resolve("f")) == m, f"$m%o")
    }).filter(_.contains(dir.toString))
    assert(all.isEmpty, s"${all.size} processes")

    val sticky = Integer.parseInt("1777", 8)
    val started = forks(fs.setPermission(new Path(dir.toUri), new FsPermission(sticky.toShort)))
    assert(started.exists(_.startsWith("chmod")), started)
    assert(mode(dir) == sticky)
  }

  test("getFileLinkStatus equals the stock result on symlinks, files and missing paths") {
    sc
    val fs = FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
    val dir = Files.createTempDirectory("localfs-links")
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // the stock code's readlink sees a symlink only on an unqualified path
    val paths = Seq(new Path(link.toString), new Path(link.toUri),
      new Path(target.toString), new Path(dir.toString))
    val missing = new Path(dir.resolve("missing").toString)
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(missing))
    withStockFs { stock =>
      assert(stock.getFileLinkStatus(paths.head).isSymlink)
      paths.foreach { p =>
        assert(fs.getFileLinkStatus(p).toString == stock.getFileLinkStatus(p).toString, p)
      }
      intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    }
  }

  test("the session resolves file: to the binding through FileSystem and FileContext") {
    sc
    val conf = spark.sessionState.newHadoopConf()
    // the FileSystem cache is keyed by scheme and user, not class: a stock
    // instance cached first would silently bypass the binding
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[NioLocalFileSystem])
    assert(new Path("file:/tmp").getFileSystem(conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), conf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }
}
