package graft.engine

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

import graft.SparkSpec

/** The session writes stream checkpoints through Hadoop's FileSystem API
  * and [[NioLocalFileSystem]] ([[Engine.streamingState]]), and keeps what
  * Spark's default manager over `LocalFileSystem` guarantees: an atomic
  * create that never overwrites, no trace of a cancelled write, checked
  * `.crc` sidecars, and the permission bits `RawLocalFileSystem` sets.
  * Every case reads the session's own Hadoop configuration. */
class CheckpointIoSpec extends SparkSpec {

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  private val made = scala.collection.mutable.Buffer.empty[java.nio.file.Path]

  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made += d
    new Path(d.toUri)
  }

  override protected def afterAll(): Unit = {
    made.foreach { d =>
      val all = Files.walk(d)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.delete(_))
      finally all.close()
    }
    super.afterAll()
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Names in a local directory, hidden temp and `.crc` files included. */
  private def names(dir: Path): Set[String] =
    Option(new java.io.File(dir.toUri).list()).fold(Set.empty[String])(_.toSet)

  /** Permission bits of a local path, sticky bit included. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0x0fff

  test("the session checkpoints through the FileSystem manager and NioLocalFileSystem") {
    val c = conf
    assert(CheckpointFileManager.create(tempDir("ckio-mgr"), c)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(FileSystem.get(new URI("file:///"), c).isInstanceOf[NioLocalFileSystem])
  }

  test("an atomic create never overwrites, and a cancelled one leaves nothing") {
    val dir = tempDir("ckio-atomic")
    val fm = CheckpointFileManager.create(dir, conf)
    val p = new Path(dir, "0")
    write(fm, p, "old")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("new".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(fm, p) == "old")

    val before = names(dir)
    val q = new Path(dir, "1")
    val cancelled = fm.createAtomic(q, overwriteIfPossible = false)
    cancelled.write("half".getBytes(UTF_8))
    cancelled.cancel()
    assert(!fm.exists(q))
    assert(names(dir) == before, "a cancelled write left a file behind")
  }

  test("a checkpoint file gets a .crc sidecar, and a flipped byte fails the read") {
    val dir = tempDir("ckio-crc")
    val fm = CheckpointFileManager.create(dir, conf)
    val p = new Path(dir, "offsets")
    write(fm, p, "v1\n" + "{\"batchId\":7}" * 20)
    assert(names(dir) == Set("offsets", ".offsets.crc"))
    assert(read(fm, p).startsWith("v1\n"))

    val raf = new RandomAccessFile(new java.io.File(p.toUri), "rw")
    try {
      raf.seek(10)
      val b = raf.read()
      raf.seek(10)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(fm, p))
  }

  test("created files and directories get the bits RawLocalFileSystem sets") {
    for (umask <- Seq("022", "027", "077")) {
      val c = conf
      c.set("fs.permissions.umask-mode", umask)
      val nio = new NioLocalFileSystem
      val stock = new LocalFileSystem
      Seq(nio, stock).foreach(_.initialize(new URI("file:///"), c))
      try {
        val roots = Seq(nio, stock).map(_ => tempDir(s"ckio-perm-$umask"))
        def layout(fs: FileSystem, root: Path): Seq[Path] = {
          val file = new Path(root, "f")
          fs.create(file).close()
          val withPerm = new Path(root, "g")
          fs.create(withPerm, new FsPermission("640"), false, 4096, 1.toShort,
            fs.getDefaultBlockSize(withPerm), null).close()
          val set = new Path(root, "h")
          fs.create(set).close()
          fs.setPermission(set, new FsPermission("604"))
          val dir = new Path(root, "d/e")
          fs.mkdirs(dir)
          val dirWithPerm = new Path(root, "x")
          fs.mkdirs(dirWithPerm, new FsPermission("750"))
          // mkdirs drops the sticky bit with the umask; only setPermission sets it
          val sticky = new Path(root, "tmp")
          fs.mkdirs(sticky)
          fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
          val inSticky = new Path(sticky, "f")
          fs.create(inSticky).close()
          Seq(file, new Path(root, ".f.crc"), withPerm, set, new Path(root, "d"), dir,
            dirWithPerm, sticky, inSticky)
        }
        val got = layout(nio, roots(0)).map(mode)
        val want = layout(stock, roots(1)).map(mode)
        assert(got == want, s"umask $umask: ${got.map(_.toOctalString)} vs " +
          want.map(_.toOctalString).toString)
        assert((mode(new Path(roots(0), "tmp")) & 0x200) != 0, "sticky bit lost")
      } finally Seq(nio, stock).foreach(_.close())
    }
  }
}
