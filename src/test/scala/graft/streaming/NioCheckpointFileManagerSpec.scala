package graft.streaming

import graft.SparkTestSession
import java.io.{File, OutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, ParentNotDirectoryException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The streaming checkpoint file manager (NioCheckpointFileManager doc):
  * atomic publish, cancel, no-overwrite, scheme dispatch, `mkdirs`, a
  * metadata-log round trip through it, and the entry points that install
  * it.
  */
class NioCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Key = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  private def manager(dir: File) =
    new NioCheckpointFileManager(new Path(dir.toURI), new Configuration())
  private def names(dir: File): Seq[String] = Option(dir.list()).toSeq.flatten.sorted
  private def text(f: File) = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
  private def put(out: OutputStream, s: String): Unit = out.write(s.getBytes(StandardCharsets.UTF_8))

  test("a file appears only at close, with no temp file left beside it") {
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    val out = manager(dir).createAtomic(new Path(new File(dir, "0").toURI), false)
    put(out, "v1\n{}")
    assert(!new File(dir, "0").exists)
    assert(names(dir).forall(_.startsWith(".")), names(dir))
    out.close()
    assert(names(dir) == Seq("0"))
    assert(text(new File(dir, "0")) == "v1\n{}")
    out.cancel() // after close: a no-op that keeps the published file
    assert(names(dir) == Seq("0"))
  }

  test("cancel leaves nothing behind") {
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    val out = manager(dir).createAtomic(new Path(new File(dir, "0").toURI), true)
    put(out, "partial")
    out.cancel()
    out.close() // after cancel: publishes nothing
    assert(names(dir).isEmpty, names(dir))
  }

  test("no-overwrite onto an existing file throws and keeps its bytes; overwrite replaces them") {
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    val target = new Path(new File(dir, "7").toURI)
    val fm = manager(dir)
    val first = fm.createAtomic(target, false)
    put(first, "old")
    first.close()
    val second = fm.createAtomic(target, false)
    put(second, "new")
    intercept[FileAlreadyExistsException](second.close())
    assert(names(dir) == Seq("7"))
    assert(text(new File(dir, "7")) == "old")
    val third = fm.createAtomic(target, true)
    put(third, "newer")
    third.close()
    assert(names(dir) == Seq("7"))
    assert(text(new File(dir, "7")) == "newer")
  }

  test("mkdirs creates nested directories") {
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    manager(dir).mkdirs(new Path(new File(dir, "a/b/c").toURI))
    assert(new File(dir, "a/b/c").isDirectory)
    assert(names(dir) == Seq("a"))
  }

  test("mkdirs on an existing directory is a no-op") {
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    val sub = new File(dir, "offsets")
    assert(sub.mkdir())
    Files.write(new File(sub, "0").toPath, "v1".getBytes(StandardCharsets.UTF_8))
    manager(dir).mkdirs(new Path(sub.toURI))
    assert(names(sub) == Seq("0"))
    assert(text(new File(sub, "0")) == "v1")
  }

  test("mkdirs with a regular file in the way fails the way Hadoop's does") {
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    val file = new File(dir, "f")
    Files.write(file.toPath, "x".getBytes(StandardCharsets.UTF_8))
    val hadoop = new FileSystemBasedCheckpointFileManager(new Path(dir.toURI), new Configuration())
    for ((target, expected) <- Seq(
        file -> classOf[FileAlreadyExistsException],
        new File(file, "sub/x") -> classOf[ParentNotDirectoryException])) {
      val path = new Path(target.toURI)
      val theirs = intercept[Exception](hadoop.mkdirs(path))
      val ours = intercept[Exception](manager(dir).mkdirs(path))
      assert(theirs.getClass == expected, theirs)
      assert(ours.getClass == expected, ours)
    }
    assert(file.isFile && text(file) == "x")
    assert(names(dir) == Seq("f"), names(dir))
  }

  test("a path of another scheme takes Spark's rename-based stream") {
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    val conf = new Configuration()
    conf.set(s"fs.${OtherSchemeFileSystem.Scheme}.impl", classOf[OtherSchemeFileSystem].getName)
    conf.setBoolean(s"fs.${OtherSchemeFileSystem.Scheme}.impl.disable.cache", true)
    val root = new Path(s"${OtherSchemeFileSystem.Scheme}://${dir.toURI.getPath}")
    val out = new NioCheckpointFileManager(root, conf).createAtomic(new Path(root, "0"), false)
    assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    put(out, "x")
    out.close()
    assert(text(new File(dir, "0")) == "x")
    assert(!manager(dir).createAtomic(new Path(new File(dir, "1").toURI), false)
      .isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
  }

  test("HDFSMetadataLog round trip through the installed manager; a second writer is detected") {
    val s = spark.newSession()
    NioCheckpointFileManager.install(s)
    val dir = Files.createTempDirectory("nio-ckpt").toFile
    class Log extends HDFSMetadataLog[String](s, dir.getPath) {
      def manager: CheckpointFileManager = fileManager
      def writeAgain(id: Long): Unit = write(batchIdToPath(id), o => put(o, "dup"))
    }
    val log = new Log
    assert(log.manager.isInstanceOf[NioCheckpointFileManager])
    assert(log.add(0L, "a"))
    assert(log.add(1L, "b"))
    assert(!log.add(1L, "c"))
    assert(log.getLatest().contains((1L, "b")))
    assert(new Log().get(0L).contains("a"))
    // what a concurrent writer of the same batch meets
    val e = intercept[Exception](log.writeAgain(1L))
    assert(e.getCause.isInstanceOf[FileAlreadyExistsException], e)
    assert(new Log().get(1L).contains("b"))
    assert(names(dir) == Seq("0", "1"), names(dir))
  }

  test("SseServer.start and RedditLogSink.appendStream install the manager; a user's choice stands") {
    val name = classOf[NioCheckpointFileManager].getName
    val dirs = Seq("rc", "rs").map(n => Files.createTempDirectory(s"nio-$n").toString)
    val forServer = spark.newSession()
    assert(forServer.conf.getOption(Key).isEmpty)
    val server = new SseServer(forServer, dirs(0), dirs(1)).start()
    try assert(forServer.conf.get(Key) == name) finally server.stop()

    val forSink = spark.newSession()
    assert(forSink.conf.getOption(Key).isEmpty)
    import forSink.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = forSink.sqlContext
    val mem = MemoryStream[IngestRow]
    val q = RedditLogSink.appendStream(mem.toDF(), Files.createTempDirectory("nio-log").toString,
      Files.createTempDirectory("nio-ck").toString, triggerMillis = 50L)
    try assert(forSink.conf.get(Key) == name) finally q.stop()

    val chosen = spark.newSession()
    chosen.conf.set(Key, classOf[FileSystemBasedCheckpointFileManager].getName)
    NioCheckpointFileManager.install(chosen)
    assert(chosen.conf.get(Key) == classOf[FileSystemBasedCheckpointFileManager].getName)
  }
}

/** The local filesystem under another scheme, so a spec can reach the
  * manager's non-`file:` branch without a cluster. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${OtherSchemeFileSystem.Scheme}:///")
}

object OtherSchemeFileSystem {
  val Scheme = "graftother"
}
