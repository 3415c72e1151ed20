package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Candle

/** Spark's manager that counts its atomic writes: a user's own manager. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  override def createAtomic(p: Path, overwriteIfPossible: Boolean) = {
    CountingCheckpointFileManager.writes.incrementAndGet()
    super.createAtomic(p, overwriteIfPossible)
  }
}

object CountingCheckpointFileManager {
  val writes = new AtomicInteger
}

/** [[LocalCheckpointFileManager]] against Spark's own `FileContext` manager
  * on `file:` paths: each case runs under both and must end the same way.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  import LocalCheckpointFileManagerSpec._

  private def write(fm: CheckpointFileManager, f: Path, body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(f, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def both(conf: Configuration = new Configuration())(
      scenario: (CheckpointFileManager, Path) => Unit): (Outcome, Outcome) = {
    val Seq(spark, graft) = Seq[(Path, Configuration) => CheckpointFileManager](
      new FileContextBasedCheckpointFileManager(_, _),
      new LocalCheckpointFileManager(_, _)).map { mk =>
      val dir = Files.createTempDirectory("ckfm")
      val err =
        try { scenario(mk(new Path(dir.toUri), conf), new Path(dir.toUri)); "ok" }
        catch { case e: Exception => e.getClass.getName }
      Outcome(err, dir)
    }
    assert(spark.result == graft.result && spark.files == graft.files, s"spark $spark\ngraft $graft")
    assert(graft.temps.isEmpty && graft.crcs.isEmpty, graft)
    (spark, graft)
  }

  test("overwrite replaces the file") {
    val (_, g) = both() { (fm, root) =>
      write(fm, new Path(root, "1.delta"), "old", overwrite = true)
      write(fm, new Path(root, "1.delta"), "new", overwrite = true)
    }
    assert(g.result == "ok" && g.files == Seq("1.delta rw-r--r-- new"))
  }

  test("no-overwrite onto an existing file throws, keeps the old content, leaves no temp file") {
    val (s, g) = both() { (fm, root) =>
      write(fm, new Path(root, "7"), "old", overwrite = false)
      write(fm, new Path(root, "7"), "new", overwrite = false)
    }
    assert(g.result == classOf[FileAlreadyExistsException].getName)
    assert(g.files == Seq("7 rw-r--r-- old"))
    // Spark's manager leaves its temp file behind; this one deletes it
    assert(s.temps.size == 1)
  }

  test("cancel leaves neither the final file nor the temp file") {
    val (s, g) = both() { (fm, root) =>
      val out = fm.createAtomic(new Path(root, "3"), overwriteIfPossible = false)
      out.write("x".getBytes(UTF_8))
      out.cancel()
    }
    assert(g.result == "ok" && g.files.isEmpty && s.temps.isEmpty)
  }

  test("a missing parent directory fails the same way") {
    val (_, g) = both() { (fm, root) =>
      write(fm, new Path(root, "no/such/dir/4"), "x", overwrite = false)
    }
    assert(g.result == classOf[java.io.FileNotFoundException].getName)
  }

  test("the file mode follows Hadoop's umask") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val (_, g) = both(conf) { (fm, root) =>
      write(fm, new Path(root, "5"), "x", overwrite = false)
      write(fm, new Path(root, "6"), "y", overwrite = true)
    }
    assert(g.files == Seq("5 rw-r----- x", "6 rw-r----- y"))
  }

  test("a file Spark's manager wrote is replaced and reads back through Hadoop's checksums") {
    val dir = Files.createTempDirectory("ckfm")
    val root = new Path(dir.toUri)
    val spark = new FileContextBasedCheckpointFileManager(root, new Configuration())
    val f = new Path(root, "2.delta")
    write(spark, f, "old", overwrite = true)
    assert(Outcome("ok", dir).crcs.nonEmpty)
    write(new LocalCheckpointFileManager(root, new Configuration()), f, "new!", overwrite = true)
    // Hadoop's FileSystem API verifies a `.crc` beside the file; FileContext does not
    val fs = FileSystem.get(root.toUri, new Configuration())
    for (in <- Seq(spark.open(f), fs.open(f)))
      try assert(new String(in.readAllBytes(), UTF_8) == "new!") finally in.close()
  }

  test("a local session resolves this manager for a file: checkpoint") {
    val s = TestSpark.spark
    val dir = new Path(Files.createTempDirectory("ckfm").toUri)
    assert(CheckpointFileManager.create(dir, s.sessionState.newHadoopConf())
      .isInstanceOf[LocalCheckpointFileManager])
    // Spark's own state checksum files stay on
    assert(s.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
  }

  test("sinkToStore installs this manager only when the session names none") {
    def run(s: org.apache.spark.sql.SparkSession): Unit = {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val base = Files.createTempDirectory("ckfm_sink")
      val input = MemoryStream[Candle]
      val q = StreamingIndicators.sinkToStore(
        StreamingIndicators.pipeline(input.toDS()), s"$base/store", s"$base/ck")
      input.addData(Candle("AAA", Timestamp.valueOf("2024-01-01 00:00:00"), 1, 1, 1, 1, 1))
      try q.processAllAvailable() finally q.stop()
    }
    val key = LocalCheckpointFileManager.ConfKey
    val own = TestSpark.spark.newSession()
    own.conf.set(key, classOf[CountingCheckpointFileManager].getName)
    val before = CountingCheckpointFileManager.writes.get
    run(own)
    assert(own.conf.get(key) == classOf[CountingCheckpointFileManager].getName)
    assert(CountingCheckpointFileManager.writes.get > before)

    val unset = TestSpark.spark.newSession()
    unset.conf.unset(key)
    run(unset)
    assert(unset.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
  }
}

object LocalCheckpointFileManagerSpec {
  /** How a scenario ended: "ok" or the exception class, and what it left
    * in the directory. `files` are "name mode content" lines; temp files
    * and Hadoop's `.crc` side files are listed apart.
    */
  case class Outcome(result: String, files: Seq[String], temps: Seq[String], crcs: Seq[String])

  object Outcome {
    def apply(result: String, dir: NioPath): Outcome = {
      val all = Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString -> f).toSeq.sortBy(_._1)
      val (crcs, rest) = all.partition(_._1.endsWith(".crc"))
      val (temps, files) = rest.partition(_._1.endsWith(".tmp"))
      Outcome(result,
        files.map { case (name, f) =>
          val mode = PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
          s"$name $mode ${new String(Files.readAllBytes(f), UTF_8)}"
        },
        temps.map(_._1), crcs.map(_._1))
    }
  }
}
