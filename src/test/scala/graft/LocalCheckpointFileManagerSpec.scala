package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import graft.streaming.LocalCheckpointFileManager

/** A local filesystem under its own scheme: it has a Hadoop `FileSystem`
  * but no `AbstractFileSystem`, so `FileContext` cannot open it. */
class NoFileContextFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("nofc:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    NoFileContextFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object NoFileContextFs {
  val creates = new java.util.concurrent.atomic.AtomicInteger()
}

/** The checkpoint file manager keeps Spark's atomic-publish contract on
  * local paths, and stays Spark's default manager elsewhere. */
class LocalCheckpointFileManagerSpec extends SparkTestBase {

  private val conf = new Configuration()

  private def dir(): File = Files.createTempDirectory("graft-cfm").toFile
  private def manager(d: File) = new LocalCheckpointFileManager(new Path(d.toURI), conf)
  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def tempFiles(d: File): Seq[String] = d.list().toSeq.filter(_.endsWith(".tmp"))

  test("(a) no-overwrite publish onto an existing file fails and keeps it") {
    val d = dir(); val fm = manager(d); val p = new Path(d.toURI.toString, "0")
    write(fm, p, "old", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("new".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(fm, p) === "old")
    assert(tempFiles(d).isEmpty)
  }

  test("(b) overwrite publish replaces the contents") {
    val d = dir(); val fm = manager(d); val p = new Path(d.toURI.toString, "1.delta")
    write(fm, p, "old", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) === "new")
    assert(tempFiles(d).isEmpty)
  }

  test("(c) cancel leaves neither the target nor a temp file") {
    val d = dir(); val fm = manager(d); val p = new Path(d.toURI.toString, "sub/2")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("x".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(tempFiles(new File(d, "sub")).isEmpty)
  }

  test("(d) overwriting a file the default manager wrote drops its stale .crc") {
    val d = dir(); val p = new Path(d.toURI.toString, "3")
    val default = new FileContextBasedCheckpointFileManager(new Path(d.toURI), conf)
    write(default, p, "written by the default manager", overwrite = false)
    assert(new File(d, ".3.crc").exists, "the default manager writes a checksum sidecar")
    val fm = manager(d)
    write(fm, p, "new", overwrite = true)
    assert(!new File(d, ".3.crc").exists)
    assert(read(fm, p) === "new")
    assert(read(default, p) === "new")
  }

  test("(e) list, exists and delete see the manager's own files") {
    val d = dir(); val fm = manager(d); val root = new Path(d.toURI)
    Seq("0", "1", "2").foreach(n => write(fm, new Path(root, n), n, overwrite = false))
    fm.mkdirs(new Path(root, "state/0"))
    assert(fm.list(root).map(_.getPath.getName).toSet === Set("0", "1", "2", "state"))
    assert(fm.exists(new Path(root, "1")))
    fm.delete(new Path(root, "1"))
    assert(!fm.exists(new Path(root, "1")))
    assert(fm.list(root, (p: Path) => p.getName != "state").map(_.getPath.getName).toSet ===
      Set("0", "2"))
  }

  test("(f) the engine session installs it as the checkpoint file manager") {
    val fm = CheckpointFileManager.create(
      new Path(dir().toURI), spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
  }

  test("(g) a scheme FileContext cannot open falls back to the FileSystem-based manager") {
    val c = new Configuration()
    c.set("fs.nofc.impl", classOf[NoFileContextFs].getName)
    c.setBoolean("fs.nofc.impl.disable.cache", true)
    val d = dir()
    val root = new Path(s"nofc://${d.getAbsolutePath}")
    val fm = new LocalCheckpointFileManager(root, c)
    val p = new Path(root, "0")
    val before = NoFileContextFs.creates.get
    write(fm, p, "old", overwrite = false)
    assert(NoFileContextFs.creates.get > before, "written through Hadoop's FileSystem")
    intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
    assert(read(fm, p) === "old")
  }
}
