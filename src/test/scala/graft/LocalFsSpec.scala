package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => NioPath}
import java.util.jar.JarFile

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, FsConstants, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.xbean.asm9.{ClassReader, ClassVisitor, MethodVisitor, Opcodes}

import graft.core.{Scratch, Warehouse}
import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** graft's fork-free `file:` filesystem ([[graft.io.ForkFreeLocalFs]])
  * against Hadoop's stock local filesystem: the same mode bits, link
  * statuses, `.crc` sidecars and FileContext renames, installed on any
  * session a graft seam sees, and no child process on the paper's flow.
  */
class LocalFsSpec extends SparkSpec {

  private val fileUri = FsConstants.LOCAL_FS_URI

  private def confWith(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** The `file:` class Hadoop resolves with no `fs.file.impl` set: on
    * the Spark distribution, Hive's `ProxyLocalFileSystem`.
    */
  private lazy val stockClass = FileSystem.getFileSystemClass("file", new Configuration())

  /** A stock and a fork-free `file:` filesystem, built directly so that
    * neither comes from FileSystem's cache.
    */
  private def pair(conf: Configuration): Seq[(String, FileSystem)] = {
    val stock = ReflectionUtils.newInstance(stockClass, conf)
    stock.initialize(fileUri, conf)
    val ours = new ForkFreeLocalFileSystem()
    ours.initialize(fileUri, conf)
    Seq("stock" -> stock, "ours" -> ours)
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]

  /** Every path under `root` (`.crc` sidecars included) with its mode. */
  private def modes(root: NioPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  private def bytes(p: NioPath): Seq[Byte] = Files.readAllBytes(p).toSeq

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  test("mode bits: stock and fork-free agree under umasks 022, 027, 077 and a setgid parent") {
    for (umask <- Seq("022", "027", "077")) {
      val trees = pair(confWith(umask)).map { case (label, fs) =>
        val root = Scratch.dir(s"modes_${umask}_$label")
        def hp(rel: String) = new Path(root.resolve(rel).toUri)
        assert(fs.mkdirs(hp("a/b")))
        fs.create(hp("a/b/f.txt")).close()
        fs.create(hp("g.txt"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        // a setgid parent: a new directory inherits the bit, which a
        // four-digit chmod keeps on directories and drops on files
        assert(fs.mkdirs(hp("sg")))
        Files.setAttribute(root.resolve("sg"), "unix:mode", Int.box(oct("2775")))
        assert(fs.mkdirs(hp("sg/child")))
        fs.create(hp("sg/child/f.txt")).close()
        fs.setPermission(hp("sg"), new FsPermission("750"))
        Files.setAttribute(root.resolve("g.txt"), "unix:mode", Int.box(oct("2755")))
        fs.setPermission(hp("g.txt"), new FsPermission("644"))
        fs.setPermission(hp("a"), new FsPermission("1777")) // the sticky bit
        label -> root
      }.toMap
      val stock = modes(trees("stock"))
      assert(stock.size == 10, stock) // 7 paths and 3 .crc sidecars
      assert(modes(trees("ours")) == stock, s"umask $umask")
      val rwx = oct("777") & ~oct(umask)
      def perm(rel: String) = stock(rel) & 0xfff
      assert(perm("sg/child") == (oct("2000") | rwx) && perm("sg") == oct("2750"),
        s"umask $umask")
      assert(perm("sg/child/f.txt") == (oct("666") & rwx) && perm("g.txt") == oct("644") &&
        perm("a") == oct("1777"), s"umask $umask")
    }
  }

  /** The fields a caller can read off a status (FileStatus.equals
    * compares paths only).
    */
  private def fields(s: FileStatus) = (s.getPath.toString, s.isFile, s.isDirectory,
    s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "", s.getLen,
    s.getPermission.toString, s.getOwner, s.getGroup, s.getModificationTime)

  test("getFileLinkStatus: stock and fork-free agree on files, dirs, links and missing paths") {
    val root = Scratch.dir("linkstatus")
    Files.writeString(root.resolve("f"), "x")
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("rel"), java.nio.file.Paths.get("d"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val paths = Seq("f", "d", "l", "rel", "dangling", "missing").map(n =>
      new Path(root.resolve(n).toString)) ++
      Seq("f", "l").map(n => new Path(root.resolve(n).toUri)) // file:-qualified
    val Seq(stock, ours) = pair(confWith()).map(_._2)
    for (p <- paths) {
      val a = Try(fields(stock.getFileLinkStatus(p)))
      val b = Try(fields(ours.getFileLinkStatus(p)))
      assert(a.toOption == b.toOption, p)
      assert(a.failed.toOption.map(_.getClass) == b.failed.toOption.map(_.getClass), p)
    }
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    assert(ours.getFileLinkStatus(new Path(root.resolve("l").toString)).isSymlink)
    assert(ours.getFileLinkStatus(new Path(root.resolve("dangling").toString)).isSymlink)
  }

  test(".crc sidecars and data files are byte-identical between stock and fork-free") {
    val rnd = new scala.util.Random(7)
    val payloads = Seq("empty" -> Array.emptyByteArray, "small" -> "graft".getBytes("UTF-8"),
      "multi_chunk" -> Array.fill(5000)(rnd.nextInt().toByte))
    val roots = pair(confWith()).map { case (label, fs) =>
      val root = Scratch.dir(s"crc_$label")
      for ((n, b) <- payloads) {
        val out = fs.create(new Path(root.resolve(n).toUri))
        try out.write(b) finally out.close()
      }
      root
    }
    for ((n, _) <- payloads; f <- Seq(n, s".$n.crc"))
      assert(bytes(roots(0).resolve(f)) == bytes(roots(1).resolve(f)), f)
  }

  test("FileSystem.rename: stock and fork-free agree onto a new path, an existing file and a dir") {
    val results = pair(confWith()).map { case (label, fs) =>
      val root = Scratch.dir(s"fsrename_$label")
      def hp(rel: String) = new Path(root.resolve(rel).toUri)
      for ((n, s) <- Seq("a" -> "a", "b" -> "b", "c" -> "c")) {
        val out = fs.create(hp(n)); try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      fs.mkdirs(hp("d"))
      val verdicts = Seq("a" -> "a2", "b" -> "c", "b" -> "d", "missing" -> "e").map {
        case (from, to) =>
          Try(fs.rename(hp(from), hp(to))).fold(_.getClass.getSimpleName, _.toString)
      }
      (verdicts, modes(root).keySet, Files.readString(root.resolve("c")))
    }
    assert(stockClass.getName.nonEmpty && classOf[LocalFileSystem].isAssignableFrom(stockClass))
    assert(results(1) == results(0), s"stock ${stockClass.getName}")
    assert(results(1)._3 == "c", "an existing file is not replaced")
  }

  test("FileContext.rename with OVERWRITE: stock LocalFs and fork-free agree, .crc moved") {
    def run(afs: String): (NioPath, Seq[String]) = {
      val conf = confWith()
      conf.set("fs.AbstractFileSystem.file.impl", afs)
      val fc = FileContext.getFileContext(fileUri, conf)
      val root = Scratch.dir("fcrename")
      def write(n: String, s: String): Path = {
        val p = new Path(root.resolve(n).toUri)
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try out.write(s.getBytes("UTF-8")) finally out.close()
        p
      }
      val dst = write("dst", "old")
      val src = write("src", "new content")
      val other = write("other", "x")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](fc.rename(other, dst))
      fc.mkdir(new Path(root.resolve("dir").toUri), FsPermission.getDirDefault, true)
      root -> Files.list(root).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    }
    val (stockRoot, stockNames) = run(classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val (ourRoot, ourNames) = run(classOf[ForkFreeLocalFs].getName)
    assert(stockNames == Seq(".dst.crc", ".other.crc", "dir", "dst", "other"), stockNames)
    assert(ourNames == stockNames)
    for (f <- Seq("dst", ".dst.crc"))
      assert(bytes(stockRoot.resolve(f)) == bytes(ourRoot.resolve(f)), f)
    assert(Files.readString(ourRoot.resolve("dst")) == "new content")
    assert(modes(ourRoot) == modes(stockRoot))
  }

  test("no Spark class reads CheckpointFileManager.isLocal except the forwarding ChecksumCheckpointFileManager") {
    // the fork-free FileContext filesystem is not a LocalFs, so
    // FileContextBasedCheckpointFileManager.isLocal reads false for it
    val sparkDir = new java.io.File(classOf[CheckpointFileManager]
      .getProtectionDomain.getCodeSource.getLocation.toURI).getParentFile
    val jars = sparkDir.listFiles.filter(f => f.getName.startsWith("spark-") &&
      f.getName.endsWith(".jar"))
    assert(jars.exists(_.getName.startsWith("spark-sql_")), sparkDir)
    var scanned = 0
    val callers = Seq.newBuilder[String]
    for (jar <- jars) {
      val jf = new JarFile(jar)
      try jf.entries.asScala.filter(_.getName.endsWith(".class")).foreach { e =>
        val in = jf.getInputStream(e)
        val b = try in.readAllBytes() finally in.close()
        scanned += 1
        if (new String(b, "ISO-8859-1").contains("isLocal")) {
          val cls = e.getName.stripSuffix(".class")
          new ClassReader(b).accept(new ClassVisitor(Opcodes.ASM9) {
            override def visitMethod(access: Int, name: String, desc: String, sig: String,
                exc: Array[String]): MethodVisitor = new MethodVisitor(Opcodes.ASM9) {
              override def visitMethodInsn(op: Int, owner: String, m: String, d: String,
                  itf: Boolean): Unit =
                if (m == "isLocal" && owner.endsWith("CheckpointFileManager"))
                  callers += s"$cls.$name"
            }
          }, ClassReader.SKIP_DEBUG | ClassReader.SKIP_FRAMES)
        }
      } finally jf.close()
    }
    assert(scanned > 10000, scanned)
    assert(callers.result() == Seq(
      "org/apache/spark/sql/execution/streaming/checkpointing/ChecksumCheckpointFileManager.isLocal"),
      callers.result())
  }

  test("install replaces a cached stock file: FileSystem on a session graft did not build") {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val saved = keys.map(k => k -> conf.get(k))
    try {
      // the state another builder leaves: stock classes named (or none)
      // and a stock instance in FileSystem's cache
      keys.foreach(conf.unset)
      FileSystem.get(fileUri, conf).close()
      assert(FileSystem.get(fileUri, conf).getClass == stockClass)
      val foreign = spark.newSession()
      Warehouse(foreign, Scratch.dir("install").toString)
      assert(FileSystem.get(fileUri, conf).getClass == classOf[ForkFreeLocalFileSystem])
      assert(FileSystem.get(new URI("file:///"), new Configuration()).getClass ==
        classOf[ForkFreeLocalFileSystem], "the cache holds the new instance for any conf")
      assert(FileContext.getFileContext(fileUri, foreign.sessionState.newHadoopConf())
        .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
      // idempotent: a second seam leaves the same instance in place
      val installed = FileSystem.get(fileUri, conf)
      graft.sources.Catalog(foreign, sfDir)
      assert(FileSystem.get(fileUri, conf) eq installed)
    } finally {
      saved.foreach { case (k, v) => if (v != null) conf.set(k, v) }
      ForkFreeLocalFs.install(spark)
    }
  }

  test("the paper's flow starts no child process: a warm Main.ci and an e11 run under JFR") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val whRoot = Scratch.dir("jfr").toString
    val base = CliConfig(command = "run", sfDir = sfDir, warehouseRoot = whRoot,
      slices = 3, cutoff = Some("1996-07-01"), threads = 4)
    val ci = base.copy(command = "ci", changed = Set("stg_orders_1"))
    Main.run(spark, base)
    Main.ci(spark, ci) // warm
    Main.clean(spark, base.copy(command = "clean"))
    // Spark's executor-metrics poller runs `getconf PAGESIZE` once per
    // JVM, when it first loads this class: load it now, so that the
    // window holds only the check's and the entry's own work
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      assert(Main.ci(spark, ci).ciCounts.nonEmpty)
      Main.clean(spark, base.copy(command = "clean"))
      SparkEntry.queries("e11_stream_ingest_dedup")(spark, sfDir)
        .write.mode("overwrite").parquet(Scratch.dir("jfr_e11").resolve("out").toString)
    } finally rec.stop()
    val dump = Scratch.dir("jfr_dump").resolve("rec.jfr")
    rec.dump(dump)
    rec.close()
    val starts = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    assert(starts.isEmpty, starts.map(e =>
      e.getString("command") + " at " + Option(e.getStackTrace).toSeq
        .flatMap(_.getFrames.asScala.take(12)).map(f =>
          s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < ")
    ).mkString("\n"))
  }
}
