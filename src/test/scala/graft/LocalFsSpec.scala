package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.Trigger

import graft.stream.{IdempotentSink, LocalFs, NioLocalFileSystem, NioLocalFs,
  NioRawLocalFileSystem, StreamRunner}

/** The streams' local file system ([[graft.stream.LocalFs]]): it keeps
  * Hadoop's local semantics and starts no child process. Child processes
  * are counted with an in-process Flight Recorder recording of
  * `jdk.ProcessStart` events. */
class LocalFsSpec extends SparkSuite {

  private val fileUri = URI.create("file:///")

  private def confOf(entries: Map[String, String]): Configuration = {
    val conf = new Configuration()
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  private def rawOf(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(fileUri, new Configuration())
    fs
  }

  private lazy val nioRaw = rawOf(new NioRawLocalFileSystem)
  private lazy val hadoopRaw = rawOf(new RawLocalFileSystem)

  /** `body`'s result and the command lines of the child processes this
    * JVM started while it ran. */
  private def processStarts[A](body: => A): (A, Seq[String]) = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val result = try body finally recording.stop()
    val file = Paths.get(testDir("jfr-"), "process-starts.jfr")
    try recording.dump(file) finally recording.close()
    (result, RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command")))
  }

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  test("the stream settings serve file: paths from the nio classes, past the FileSystem cache") {
    FileSystem.get(fileUri, new Configuration()) // the JVM's cached default
    val conf = confOf(LocalFs.conf)
    assert(FileSystem.get(fileUri, conf).isInstanceOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(fileUri, conf).isInstanceOf[NioLocalFs])
  }

  test("permission bits round-trip through java.nio for 644, 755 and 700") {
    val dir = testDir("perm-")
    Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------").foreach {
      case (mode, bits) =>
        val file = Files.createFile(Paths.get(dir, s"f$mode"))
        val (_, starts) = processStarts(nioRaw.setPermission(new Path(file.toString), octal(mode)))
        assert(Files.getPosixFilePermissions(file) == PosixFilePermissions.fromString(bits), mode)
        assert(starts.isEmpty, mode)
    }
  }

  test("a sticky-bit permission takes Hadoop's own path") {
    val dir = Files.createDirectory(Paths.get(testDir("sticky-"), "d"))
    val (_, starts) = processStarts(nioRaw.setPermission(new Path(dir.toString), octal("1777")))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ==
      Integer.parseInt("1777", 8))
    // without libhadoop, Hadoop's own path is a chmod child process
    if (!NativeIO.isAvailable) assert(starts.exists(_.contains("chmod")), starts)
  }

  test("getFileLinkStatus of a regular file and of a real symlink equals RawLocalFileSystem's") {
    val dir = testDir("link-")
    val file = Files.write(Paths.get(dir, "f"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(Paths.get(dir, "l"), file)
    def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime,
      s.getPermission)
    Seq(file -> false, link -> true).foreach { case (p, isLink) =>
      val path = new Path(p.toString)
      val mine = nioRaw.getFileLinkStatus(path)
      assert(fields(mine) == fields(hadoopRaw.getFileLinkStatus(path)), p)
      assert(mine.isSymlink == isLink, p)
    }
  }

  test("a FileContext rename with overwrite on file: behaves as before") {
    // what a checkpoint log's commit does: write a temp file, rename it
    // over the target; a rename without overwrite onto a file fails
    def renames(conf: Configuration) = {
      val dir = testDir("rename-")
      val fc = FileContext.getFileContext(fileUri, conf)
      def write(name: String, text: String): Unit = {
        val out = fc.create(new Path(s"$dir/$name"), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      write("tmp", "new"); write("log", "old"); write("other", "x")
      fc.rename(new Path(s"$dir/tmp"), new Path(s"$dir/log"), Options.Rename.OVERWRITE)
      val refused = Try(fc.rename(new Path(s"$dir/other"), new Path(s"$dir/log")))
        .failed.toOption.map(_.getClass.getSimpleName)
      (new java.io.File(dir).list().sorted.toSeq,
        new String(Files.readAllBytes(Paths.get(dir, "log")), UTF_8), refused)
    }
    val (mine, starts) = processStarts(renames(confOf(LocalFs.conf)))
    assert(mine == renames(new Configuration()))
    assert(mine == ((Seq(".log.crc", ".other.crc", "log", "other"), "new",
      Some("FileAlreadyExistsException"))))
    assert(starts.isEmpty, starts)
  }

  test("a stream started through StreamRunner.start starts no child process") {
    import spark.implicits._
    val dir = testDir("stream-fs-")
    val input = StreamRunner.asStream((1 to 200).map(i => (s"k${i % 7}", i.toLong)).toDF("k", "v"))
    // a stateful operator (state-store files) and an IdempotentSink
    // (parquet write, rename, listing) on a file: checkpoint
    def query(name: String) = input.groupBy("k").agg(sum("v").as("s"))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IdempotentSink.writeBatch(batch, s"$dir/$name-out", batchId)
      }
      .option("checkpointLocation", s"$dir/$name-ckpt")
      .trigger(Trigger.AvailableNow())
    val (_, starts) = processStarts(
      StreamRunner.start(spark, query("nio"), partitions = 1).awaitTermination())
    assert(starts.isEmpty, s"${starts.size} child processes: ${starts.distinct.take(5)}")
    assert(IdempotentSink.read(spark, s"$dir/nio-out").count() == 7)
    // the same query on Hadoop's default local file system does start
    // them (without libhadoop), so the recording does see them
    if (!NativeIO.isAvailable) {
      val (_, control) = processStarts(query("default").start().awaitTermination())
      assert(control.size >= 10, control)
    }
  }
}
