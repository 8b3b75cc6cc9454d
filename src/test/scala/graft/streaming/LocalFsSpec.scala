package graft.streaming

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.model.Tables

/** [[LocalFs]], the `FileContext` file system graft registers for
 *  `file:`: it is what every Hadoop `Configuration` resolves, it leaves
 *  the modes, link statuses, errors and checkpoint files of Hadoop's
 *  stock local `FileContext`, and a checkpointed stateful query starts
 *  no child process through it. */
class LocalFsSpec extends SparkSpec {

  private val Impl = "fs.AbstractFileSystem.file.impl"
  private val Stock = "org.apache.hadoop.fs.local.LocalFs"

  /** The local FileContext from a fresh Configuration (which loads
   *  graft's core-site.xml), with `impl` in place of it when given. */
  private def context(impl: Option[String] = None): FileContext = {
    val conf = new Configuration()
    impl.foreach(conf.set(Impl, _))
    FileContext.getLocalFSFileContext(conf)
  }

  /** Spark's own housekeeping threads, which fork whatever the file
   *  system: the heartbeater's one-time `getconf PAGESIZE` and the
   *  `rm -rf` of a garbage-collected session's artifact directory. */
  private val housekeeping = Set("org.apache.spark.Heartbeater",
    "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner")

  /** The `command` of every child process the JVM starts during `body`
   *  outside Spark's housekeeping, recorded with JFR's
   *  `jdk.ProcessStart` event. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(f => housekeeping(f.getMethod.getType.getName))))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** A 3-trigger stateful count (4 state partitions) checkpointed in
   *  `ckpt`, in a session whose Hadoop conf takes `impl` when given;
   *  each trigger's complete result. */
  private def statefulRun(ckpt: JPath, impl: Option[String]): Seq[Seq[(Int, Long)]] = {
    val session = spark.newSession()
    impl.foreach(session.conf.set(Impl, _))
    import session.implicits._
    implicit val sqlCtx = session.sqlContext
    val in = MemoryStream[Int]
    val name = s"localfs_${ckpt.getFileName.toString.filter(_.isLetterOrDigit)}"
    val q = in.toDF().groupBy("value").count()
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .option("checkpointLocation", ckpt.toString).start()
    try Seq(Seq(1, 2, 2), Seq(2, 3), Seq(1, 4, 4, 4)).map { batch =>
      in.addData(batch)
      q.processAllAvailable()
      session.table(name).as[(Int, Long)].collect().toSeq.sorted
    } finally q.stop()
  }

  /** Every file under `dir`, relative to it. */
  private def fileNames(dir: JPath): Set[String] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString).toSet

  test("the local FileContext resolves to graft.streaming.LocalFs, also " +
      "through the session's Hadoop conf") {
    assert(context().getDefaultFileSystem.getClass == classOf[LocalFs])
    assert(FileContext.getLocalFSFileContext(spark.sparkContext.hadoopConfiguration)
      .getDefaultFileSystem.getClass == classOf[LocalFs])
    assert(context(Some(Stock)).getDefaultFileSystem.getClass.getName == Stock)
  }

  test("a file and a directory get the umasked modes stock Hadoop gives") {
    val dir = Paths.get(tempDir("graft-localfs"))
    def modes(impl: Option[String], sub: String): Seq[String] = {
      val fc = context(impl)
      val root = dir.resolve(sub)
      fc.mkdir(new Path(root.resolve("a/b").toUri), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(root.resolve("a/b/f").toUri),
        EnumSet.of(CreateFlag.CREATE))
      out.write(1)
      out.close()
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc").map(s => PosixFilePermissions
        .toString(Files.getPosixFilePermissions(root.resolve(s))))
    }
    val graft = modes(None, "graft")
    assert(graft == modes(Some(Stock), "stock"))
    assert(graft == Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--"))
  }

  test("getFileLinkStatus matches getFileStatus on a regular file and " +
      "still reports a real symlink with its target") {
    val dir = Paths.get(tempDir("graft-localfs"))
    val fc = context()
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val path = new Path(file.toUri)
    val (link, plain) = (fc.getFileLinkStatus(path), fc.getFileStatus(path))
    assert(!link.isSymlink && link.isFile && link.getPath == plain.getPath)
    assert(link.getLen == 3 && plain.getLen == 3)
    assert(link.getModificationTime == plain.getModificationTime)
    assert(link.getPermission == plain.getPermission)

    val sym = Files.createSymbolicLink(dir.resolve("l"), file)
    val st = fc.getFileLinkStatus(new Path(sym.toUri))
    assert(st.isSymlink, s"a real symlink: $st")
    assert(st.getSymlink == fc.makeQualified(path))
  }

  test("a missing path throws FileNotFoundException") {
    val dir = Paths.get(tempDir("graft-localfs"))
    val fc = context()
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[FileNotFoundException](fc.getFileStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](
      fc.setPermission(missing, FsPermission.getFileDefault))
  }

  test("a stateful checkpoint written through graft's LocalFs has stock " +
      "Hadoop's file names, .crc files included, and the same results") {
    val dir = Paths.get(tempDir("graft-localfs"))
    val stock = statefulRun(dir.resolve("stock"), Some(Stock))
    val graft = statefulRun(dir.resolve("graft"), None)
    assert(graft == stock)
    assert(graft.last == Seq(1 -> 2L, 2 -> 3L, 3 -> 1L, 4 -> 3L))
    val names = fileNames(dir.resolve("graft"))
    assert(names == fileNames(dir.resolve("stock")))
    assert(names.exists(_.startsWith("state/")) && names.exists(_.endsWith(".crc")),
      s"state-store and checksum files: $names")
  }

  test("a stateful query and two Tables.parquet reads start no process " +
      "(stock Hadoop's local FileContext forks chmod and readlink)") {
    import spark.implicits._
    val dir = Paths.get(tempDir("graft-localfs"))
    val table = dir.resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(table)
    val stock = processStarts(statefulRun(dir.resolve("stock"), Some(Stock)))
    assert(stock.nonEmpty, "the recording sees stock Hadoop's forks")
    val graft = processStarts {
      statefulRun(dir.resolve("graft"), None)
      Seq.fill(2)(Tables.parquet(spark, table).filter(col("id") > 0).count())
    }
    assert(graft.isEmpty, s"${graft.size} processes: ${graft.distinct.take(5)}")
  }
}
