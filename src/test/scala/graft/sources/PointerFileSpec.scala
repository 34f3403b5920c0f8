package graft.sources

import org.apache.hadoop.fs.Path
import graft.SparkSpec

/** The versioned-artifact commit protocol shared by the persisted
  * shingle index and the IVF index: `_COMMITTED` marker → atomic
  * `_CURRENT` flip → GC counting only COMMITTED versions toward the
  * keep window. The crash case under test: a build that died between
  * its parquet writes and the flip leaves a marker-less partial dir,
  * which must neither consume a keep slot nor be able to evict the
  * last fully committed version a concurrent reader just resolved.
  */
class PointerFileSpec extends SparkSpec {

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mkVersion(base: Path, name: String): Unit = {
    val fs = fsFor(base)
    fs.mkdirs(new Path(base, s"$name/data"))
    fs.create(new Path(base, s"$name/data/part-0"), true).close()
  }

  private def dirs(base: Path): Set[String] = {
    PointerFile.awaitGc() // deletes are vacuumed async since r14
    fsFor(base).listStatus(base)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
      .map(_.getPath.getName).toSet
  }

  test("commitVersion keeps the 2 newest committed versions and " +
       "drops older committed ones") {
    val base = new Path(
      java.nio.file.Files.createTempDirectory("ptr").toString)
    val fs = fsFor(base)
    Seq("v-001", "v-002", "v-003").foreach { v =>
      mkVersion(base, v)
      PointerFile.commitVersion(fs, base, v)
    }
    assert(dirs(base) == Set("v-002", "v-003"))
    assert(PointerFile.read(fs, new Path(base, "_CURRENT")) == "v-003")
  }

  test("a crashed build's marker-less partial dir does not consume a " +
       "keep slot, and is itself collected once older than the window") {
    val base = new Path(
      java.nio.file.Files.createTempDirectory("ptr").toString)
    val fs = fsFor(base)
    mkVersion(base, "v-001"); PointerFile.commitVersion(fs, base, "v-001")
    // crash: v-002 wrote data but never committed (no marker, no flip)
    mkVersion(base, "v-002")
    mkVersion(base, "v-003"); PointerFile.commitVersion(fs, base, "v-003")
    // committed window is {v-001, v-003}; the partial v-002 must not
    // have pushed v-001 (which _CURRENT-resolved readers may hold) out
    assert(dirs(base).intersect(Set("v-001", "v-003"))
      == Set("v-001", "v-003"))
    mkVersion(base, "v-004"); PointerFile.commitVersion(fs, base, "v-004")
    // window is now {v-003, v-004}: both v-001 and the crash litter
    // v-002 are older than the cutoff and collected
    assert(dirs(base) == Set("v-003", "v-004"))
  }

  test("local fast path (r10): overwrite is atomic-rename semantics, " +
       "tmp naming stays cleanStaleTmp-compatible, and a LEGACY " +
       "checksum file cannot poison the read") {
    val base = new Path(
      java.nio.file.Files.createTempDirectory("ptrfast").toString)
    val fs = fsFor(base)
    val dst = new Path(base, "p0")
    // plain write + read round trip (the nio path on a local fs)
    PointerFile.write(fs, dst, "v-001")
    assert(PointerFile.read(fs, dst) == "v-001")
    // overwrite: last write wins, no tmp litter left behind
    PointerFile.write(fs, dst, "v-002")
    assert(PointerFile.read(fs, dst) == "v-002")
    val litter = fs.listStatus(base)
      .map(_.getPath.getName).filter(_.endsWith(".tmp"))
    assert(litter.isEmpty, s"tmp litter: ${litter.mkString(",")}")
    // LEGACY state: a pointer written by the old hadoop path carries a
    // `.p1.crc` sibling; the nio overwrite must not leave new data
    // under the old checksum (ChecksumFileSystem would fail the read)
    val legacy = new Path(base, "p1")
    val out = fs.create(legacy, true) // checksummed create → .p1.crc
    try out.write("v-old".getBytes("UTF-8")) finally out.close()
    assert(fsFor(base).exists(new Path(base, ".p1.crc")),
      "precondition: legacy write should have produced a crc sibling")
    PointerFile.write(fs, legacy, "v-new")
    assert(PointerFile.read(fs, legacy) == "v-new")
    // cleanStaleTmp still recognizes the fast path's tmp naming: plant
    // an aged tmp sibling and collect it
    val stale = new Path(base, "p0.deadbeef.tmp")
    fs.create(stale, true).close()
    new java.io.File(stale.toUri.getPath)
      .setLastModified(System.currentTimeMillis() - 7200000L)
    PointerFile.cleanStaleTmp(fs, dst)
    assert(!fs.exists(stale), "aged tmp sibling not collected")
  }

  test("local fast path: concurrent writers never corrupt a pointer — " +
       "every read observes some writer's complete value") {
    val base = new Path(
      java.nio.file.Files.createTempDirectory("ptrrace").toString)
    val fs = fsFor(base)
    val dst = new Path(base, "hot")
    PointerFile.write(fs, dst, "v-seed")
    val writers = 8
    val perWriter = 50
    val legal = (0 until writers)
      .flatMap(w => (0 until perWriter).map(i => s"v-$w-$i"))
      .toSet + "v-seed"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 2)
    try {
      val done = new java.util.concurrent.CountDownLatch(writers)
      (0 until writers).foreach { w =>
        pool.execute { () =>
          try (0 until perWriter).foreach { i =>
            PointerFile.write(fs, dst, s"v-$w-$i")
          }
          catch { case e: Throwable => errs.add(s"writer $w: $e") }
          finally done.countDown()
        }
      }
      // readers race the writers: a torn/partial value or a
      // missing-pointer window would both surface here
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      (0 until 2).foreach { r =>
        pool.execute { () =>
          try while (!stop.get()) {
            val v = PointerFile.read(fs, dst)
            if (!legal(v)) errs.add(s"reader $r saw torn value '$v'")
          }
          catch { case e: Throwable => errs.add(s"reader $r: $e") }
        }
      }
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      stop.set(true)
    } finally pool.shutdownNow()
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    assert(legal(PointerFile.read(fs, dst)))
  }

  test("an in-flight build's partial dir NEWER than the window is " +
       "left alone for its own commit to finish") {
    val base = new Path(
      java.nio.file.Files.createTempDirectory("ptr").toString)
    val fs = fsFor(base)
    mkVersion(base, "v-001"); PointerFile.commitVersion(fs, base, "v-001")
    mkVersion(base, "v-002"); PointerFile.commitVersion(fs, base, "v-002")
    // concurrent builder has written data for v-004 but not committed
    mkVersion(base, "v-004")
    mkVersion(base, "v-003"); PointerFile.commitVersion(fs, base, "v-003")
    assert(dirs(base) == Set("v-002", "v-003", "v-004"))
    // when v-004's builder finishes, normal GC resumes
    PointerFile.commitVersion(fs, base, "v-004")
    assert(dirs(base) == Set("v-003", "v-004"))
  }

  test("a manifest line naming a sub-dir pins only that sub-dir, and a " +
       "version leaving the window stops counting as committed at once") {
    val base = new Path(
      java.nio.file.Files.createTempDirectory("ptrsub").toString)
    val fs = fsFor(base)
    def commit(v: String, subs: Seq[String], manifest: Seq[String]): Unit = {
      subs.foreach(b =>
        fs.create(new Path(base, s"$v/$b/part-0"), true).close())
      val out = fs.create(new Path(base, s"$v/segments"), true)
      try out.write(manifest.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      PointerFile.commitVersion(fs, base, v)
    }
    def has(p: String) = fs.exists(new Path(base, p))
    // copy-on-write bucket maps: each commit rewrites bucket a only
    commit("v-001", Seq("a", "b"), Seq("v-001/a", "v-001/b"))
    commit("v-002", Seq("a"), Seq("v-002/a", "v-001/b"))
    commit("v-003", Seq("a"), Seq("v-003/a", "v-001/b"))
    // v-001 left the window: no longer committed, before any vacuum
    assert(!has(s"v-001/${PointerFile.CommittedMarker}"))
    assert(dirs(base) == Set("v-001", "v-002", "v-003"))
    assert(has("v-001/b") && !has("v-001/a") && !has("v-001/segments"),
      "the kept maps reference v-001/b only")
    commit("v-004", Seq("a", "b"), Seq("v-004/a", "v-004/b"))
    // v-003's map still names v-001/b
    assert(dirs(base) == Set("v-001", "v-003", "v-004"))
    commit("v-005", Seq("a"), Seq("v-005/a", "v-004/b"))
    assert(dirs(base) == Set("v-004", "v-005"))
  }
}
