package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSpark

/** [[CheckpointFiles]] against the forking code it replaces: the same
  * modes as Hadoop's `chmod`, the same atomic-create and checksum
  * contract as Spark's FileSystem-based manager, Spark's own manager for
  * non-local paths, no forked process for a checkpoint file, and a
  * session install by [[Sinks]] that never overrides the caller. */
class CheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def dir(prefix: String): Path =
    new Path(Paths.get(GraftTestSpark.tmpDir(prefix)).toUri)

  private def names(d: Path): Set[String] =
    Option(new java.io.File(d.toUri).list()).map(_.toSet).getOrElse(Set())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("setPermission through java.nio gives the modes Hadoop's chmod gives") {
    val d = dir("graft-perm")
    val conf = new Configuration()
    val reference = new RawLocalFileSystem
    reference.initialize(URI.create("file:///"), conf)
    val nio = new CheckpointFiles.NioPermissions
    nio.initialize(URI.create("file:///"), conf)
    val modes = Seq("0000", "0600", "0644", "0700", "0755", "0777") ++
      (0 until 9).map(b => f"${1 << b}%04o")
    // 1777: the sticky bit is no POSIX file permission, so Hadoop's own
    // setPermission sets it
    def mode(p: Path) = Files.getAttribute(Paths.get(p.toUri), "unix:mode")
    for (m <- modes :+ "1777") {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val (a, b) = (new Path(d, s"ref-$m"), new Path(d, s"nio-$m"))
      if (m == "1777") { Files.createDirectory(Paths.get(a.toUri));
        Files.createDirectory(Paths.get(b.toUri)) }
      else { Files.createFile(Paths.get(a.toUri))
        Files.createFile(Paths.get(b.toUri)) }
      reference.setPermission(a, perm)
      nio.setPermission(b, perm)
      assert(mode(b) === mode(a), s"mode $m")
      assert(Files.getPosixFilePermissions(Paths.get(b.toUri)) ===
        Files.getPosixFilePermissions(Paths.get(a.toUri)), s"mode $m")
    }
  }

  test("local paths: Spark's FileSystem manager over the java.nio local fs") {
    val fm = new CheckpointFiles(dir("graft-cf"), new Configuration())
    fm.underlying match {
      case m: FileSystemBasedCheckpointFileManager =>
        // `fs` is protected in Scala, public in bytecode
        val fs = classOf[FileSystemBasedCheckpointFileManager]
          .getMethod("fs").invoke(m).asInstanceOf[LocalFileSystem]
        assert(fs.getRawFileSystem.isInstanceOf[CheckpointFiles.NioPermissions])
      case other => fail(s"unexpected manager ${other.getClass}")
    }
    assert(fm.isLocal)
  }

  test("createAtomic without overwrite on an existing file fails at close") {
    // files left behind, uuids masked: Spark keeps the temp file of a
    // refused rename, with either manager
    def refused(fm: String => CheckpointFileManager): Set[String] = {
      val d = dir("graft-cf")
      val m = fm(d.toString)
      val p = new Path(d, "f")
      write(m, p, "one", overwrite = false)
      val out = m.createAtomic(p, false)
      out.write("two".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      assert(read(m, p) === "one")
      names(d).map(_.replaceAll("[0-9a-f-]{36}", "U"))
    }
    assert(refused(d => new CheckpointFiles(new Path(d), new Configuration())) ===
      refused(d => new FileContextBasedCheckpointFileManager(
        new Path(d), new Configuration())))
  }

  test("cancel leaves neither the file nor a temp file") {
    val d = dir("graft-cf")
    val fm = new CheckpointFiles(d, new Configuration())
    val p = new Path(d, "f")
    val out = fm.createAtomic(p, false)
    out.write("one".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(d) === Set())
  }

  test("overwrite replaces the content") {
    val d = dir("graft-cf")
    val fm = new CheckpointFiles(d, new Configuration())
    val p = new Path(d, "f")
    write(fm, p, "one", overwrite = false)
    write(fm, p, "two", overwrite = true)
    assert(read(fm, p) === "two")
    assert(names(d) === Set("f", ".f.crc"))
  }

  test("Hadoop's .crc sidecar is written and verified on read") {
    val d = dir("graft-cf")
    val fm = new CheckpointFiles(d, new Configuration())
    val p = new Path(d, "f")
    write(fm, p, "x" * 1000, overwrite = false)
    assert(names(d) === Set("f", ".f.crc"))
    assert(read(fm, p) === "x" * 1000)
    val raf = new java.io.RandomAccessFile(new java.io.File(p.toUri), "rw")
    try { raf.seek(500); raf.write('y') } finally raf.close()
    intercept[ChecksumException](read(fm, p))
  }

  test("non-local paths get the manager Spark itself builds") {
    def check(p: Path, conf: Configuration, expected: Class[_]): Unit = {
      val fm = new CheckpointFiles(p, conf)
      assert(fm.underlying.getClass === expected)
      assert(CheckpointFileManager.create(p, conf).getClass === expected)
    }
    // FileContext has no testfs: Spark falls back to the FileSystem API
    val testfs = new Configuration()
    testfs.set("fs.testfs.impl", classOf[RawLocalFileSystem].getName)
    testfs.setBoolean("fs.testfs.impl.disable.cache", true)
    check(new Path("testfs:///graft-chk"), testfs,
      classOf[FileSystemBasedCheckpointFileManager])
    // file: served without checksums is not a LocalFileSystem
    val raw = new Configuration()
    raw.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    raw.setBoolean("fs.file.impl.disable.cache", true)
    check(dir("graft-cf"), raw, classOf[FileContextBasedCheckpointFileManager])
  }

  test("Spark builds CheckpointFiles from the key graft sets") {
    val conf = new Configuration()
    conf.set(CheckpointFiles.ConfKey, classOf[CheckpointFiles].getName)
    assert(CheckpointFileManager.create(dir("graft-cf"), conf)
      .isInstanceOf[CheckpointFiles])
  }

  /** Forked processes whose command names a checkpoint file of a short
    * stateful run through `Sinks.parquetAppend` on `session`: the
    * checkpoint directory and the sink's `_spark_metadata` log. */
  private def checkpointForks(session: SparkSession): Int = {
    val chk = GraftTestSpark.tmpDir("graft-fork-chk")
    val out = GraftTestSpark.tmpDir("graft-fork-out")
    val input = MemoryStream[Int](
      org.apache.spark.sql.Encoders.scalaInt, session.sqlContext)
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      val q = Sinks.parquetAppend(input.toDF().dropDuplicates("value"),
        out, chk, "0 seconds").start()
      try {
        input.addData(1, 2, 3); q.processAllAvailable()
        input.addData(3, 4, 5); q.processAllAvailable()
      } finally q.stop()
    } finally recording.stop()
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    try {
      recording.dump(jfr)
      val roots = Seq(chk, s"$out/_spark_metadata").flatMap { r =>
        Seq(r, Paths.get(r).toRealPath().toString) }
      RecordingFile.readAllEvents(jfr).asScala.count { e =>
        val command = e.getString("command")
        roots.exists(command.contains)
      }
    } finally { recording.close(); Files.deleteIfExists(jfr) }
  }

  test("no process is forked for a checkpoint file under CheckpointFiles") {
    val installed = spark.newSession() // Sinks installs CheckpointFiles
    assert(checkpointForks(installed) === 0)
    assert(installed.conf.get(CheckpointFiles.ConfKey) ===
      classOf[CheckpointFiles].getName)
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      // positive control: Spark's default local manager forks without
      // libhadoop, and Sinks keeps the caller's choice
      val fileContext = spark.newSession()
      fileContext.conf.set(CheckpointFiles.ConfKey,
        classOf[FileContextBasedCheckpointFileManager].getName)
      assert(checkpointForks(fileContext) > 0)
    }
  }

  test("the install sets the key only when unset and touches no other key") {
    val name = classOf[CheckpointFiles].getName
    def append(s: SparkSession): Unit = {
      Sinks.parquetAppend(s.readStream.format("rate").load(),
        GraftTestSpark.tmpDir("graft-out"), GraftTestSpark.tmpDir("graft-chk"))
      ()
    }
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(CheckpointFiles.ConfKey).isEmpty)
    val before = fresh.conf.getAll
    append(fresh)
    assert(fresh.conf.get(CheckpointFiles.ConfKey) === name)
    append(fresh) // twice changes nothing
    assert(fresh.conf.getAll === before + (CheckpointFiles.ConfKey -> name))

    val chosen = spark.newSession()
    val own = classOf[FileContextBasedCheckpointFileManager].getName
    chosen.conf.set(CheckpointFiles.ConfKey, own)
    val set = chosen.conf.getAll
    append(chosen)
    Sinks.vectorIngest(chosen.readStream.format("rate").load(),
      GraftTestSpark.tmpDir("graft-index"), GraftTestSpark.tmpDir("graft-chk"))
    assert(chosen.conf.getAll === set)
  }
}
