package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The session's `file:` FileSystem: Hadoop's local FileSystem with
  * permissions set through `java.nio` instead of a `chmod` process. */
class NioLocalFileSystemSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def init(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(root, conf)
    fs
  }

  /** The 12 permission bits of `p` as the OS reports them. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session's file: FileSystem is NioLocalFileSystem") {
    // newInstance: FileSystem.get's cache is shared by the whole test JVM
    val fs = FileSystem.newInstance(root, spark.sessionState.newHadoopConf())
    try assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    finally fs.close()
  }

  test("files, .crc files and directories get Hadoop's modes under the same umask") {
    for (umask <- Seq("022", "027", "077", "002")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val d = tempDir("nio_fs_modes")
      def make(fs: FileSystem, tag: String): Seq[Int] = {
        val base = s"$d/$tag"
        fs.create(new Path(s"$base/a/b/f")).close() // parents made on the way
        fs.create(new Path(s"$base/g"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(s"$base/h"), new FsPermission("750"))
        fs.create(new Path(s"$base/h/k")).close()
        fs.setPermission(new Path(s"$base/h/k"), new FsPermission("604"))
        fs.setPermission(new Path(s"$base/a/b"), new FsPermission("711"))
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "g", ".g.crc", "h", "h/k", "h/.k.crc")
          .map(p => mode(s"$base/$p"))
      }
      val nio = make(init(new NioLocalFileSystem, conf), "nio")
      assert(nio == make(init(new LocalFileSystem, conf), "hadoop"), s"umask $umask")
      assert(nio.distinct.size > 2, s"umask $umask: modes too uniform to tell apart")
    }
  }

  test("a sticky-bit mode goes to Hadoop's implementation") {
    val fs = init(new NioLocalFileSystem, new Configuration())
    val d = s"${tempDir("nio_fs_sticky")}/shared"
    fs.mkdirs(new Path(d))
    fs.setPermission(new Path(d), new FsPermission(Integer.parseInt("1777", 8).toShort))
    // java.nio cannot set the sticky bit; only chmod can
    assert(mode(d) == Integer.parseInt("1777", 8))
  }

  test("creating files and directories through it starts no process") {
    /** Processes started by this thread while `body` runs. */
    def processStarts(body: => Unit): Int = {
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = Paths.get(tempDir("nio_fs_jfr"), "rec.jfr")
      rec.dump(dump)
      rec.close()
      val me = Thread.currentThread().getId
      RecordingFile.readAllEvents(dump).asScala.count(e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getThread).exists(_.getJavaThreadId == me))
    }
    def writeSome(fs: FileSystem, dir: String): Unit = (0 until 5).foreach { i =>
      fs.mkdirs(new Path(s"$dir/d$i"))
      val out = fs.create(new Path(s"$dir/d$i/part-$i.bin"))
      try out.write(Array.fill[Byte](100)(i.toByte)) finally out.close()
    }
    val conf = new Configuration()
    val nio = init(new NioLocalFileSystem, conf)
    assert(processStarts(writeSome(nio, tempDir("nio_fs_proc"))) == 0)
    // the control: without libhadoop, Hadoop's own FileSystem runs chmod
    // for each file, .crc file and directory, so the recording does see
    // process starts
    if (!NativeIO.isAvailable)
      assert(processStarts(writeSome(init(new LocalFileSystem, conf), tempDir("nio_fs_proc"))) > 0)
  }
}
