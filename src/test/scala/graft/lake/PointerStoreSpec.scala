package graft.lake

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Commit-pointer protocol ([[PointerStore]]): readers must ride
  * through a swap (old value or new value, never torn, never a
  * spurious "no table"), and a never-created pointer must answer None
  * without retry sleeps — all with no rename at all (the object-store
  * shape). */
class PointerStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture(name: String) = {
    val dir = new Path(TestSpark.tmpDir(name))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    (fs, dir)
  }

  private def headStore(name: String): (PointerStore, Path) = {
    val (fs, dir) = fixture(name)
    (PointerStore.forTable(fs), new Path(dir, "HEAD"))
  }

  test("never-created pointer answers None immediately, no retry sleeps") {
    val (store, p) = headStore("ptr-absent")
    assert(store.read(p).isEmpty) // cold call warms fs metadata
    val t0 = System.nanoTime()
    assert(store.read(p).isEmpty)
    val ms = (System.nanoTime() - t0) / 1e6
    // the old behavior slept ~30ms probing for a swap that never was
    assert(ms < 8.0, s"absent read took ${ms}ms (retry sleeps?)")
  }

  test("write is complete-at-swap: concurrent readers never see a torn value") {
    val (store, p) = headStore("ptr-race")
    store.write(p, "0" * 64) // long values make torn reads detectable
    val stop = new AtomicBoolean(false)
    val anomalies = new AtomicInteger(0)
    val seen = new AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        store.read(p) match {
          case Some(v) if v.length == 64 && v.distinct.length == 1 =>
            seen.incrementAndGet()
          case other =>
            // torn value, mixed generations, or spurious None
            anomalies.incrementAndGet()
            System.err.println(s"anomaly: $other")
        }
      }
    })
    reader.start()
    (1 to 200).foreach(i => store.write(p, (i % 10).toString * 64))
    stop.set(true)
    reader.join(10000)
    assert(anomalies.get() == 0,
      s"${anomalies.get()} torn/absent reads during swaps")
    assert(seen.get() > 0, "reader starved")
    assert(store.read(p).contains((200 % 10).toString * 64))
  }

  test("racing generation writers all land, last value wins, no torn state") {
    val (fs, dir) = fixture("ptr-genrace")
    val store = new GenerationPointerStore(fs)
    val p = new Path(dir, "HEAD")
    val threads = (1 to 4).map { t =>
      new Thread(() => (1 to 25).foreach(i => store.write(p, s"t$t-$i")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(20000))
    // all 100 swaps landed distinct generations; the survivor parses
    val v = store.read(p)
    assert(v.nonEmpty && v.get.matches("t\\d-\\d+"), s"final: $v")
    // cleanup keeps the directory bounded: at most a handful of gens
    val left = fs.listStatus(new Path(dir, ".ptr-HEAD"))
      .count(_.getPath.getName.startsWith("gen-"))
    assert(left <= 8, s"$left generation files left behind")
  }

  test("conditional-put 412 races through the double: a rival winning " +
      "every contended generation forces re-list + retry, readers stay " +
      "complete; spurious 412s converge; non-412 errors propagate") {
    val (fs, dir) = fixture("ptr-412")
    val p = new Path(dir, "HEAD")
    def framed(v: String) =
      s"${v.getBytes(java.nio.charset.StandardCharsets.UTF_8).length}\n$v"
    val inner = new FsConditionalPut(fs)

    // double 1: a RIVAL writer lands on every contended key first —
    // the S3 failure surface (our PUT answers 412, the key now holds
    // the rival's object); the protocol must re-list, take the next
    // generation, and eventually win
    val contested = new AtomicInteger(3)
    val rivalSeq = new AtomicInteger(0)
    val racing = new ConditionalPut {
      override def putIfAbsent(path: Path, value: String): Unit =
        if (contested.getAndDecrement() > 0) {
          inner.putIfAbsent(path,
            framed(s"rival-${rivalSeq.incrementAndGet()}"))
          throw new PreconditionFailed(s"412: $path exists")
        } else inner.putIfAbsent(path, value)
      override def read(path: Path) = inner.read(path)
      override def list(d: Path) = inner.list(d)
      override def delete(path: Path) = inner.delete(path)
    }
    val store = new GenerationPointerStore(racing)
    store.write(p, "ours")
    // our write took 4 attempts (3 rivals + 1 win) and holds the
    // HIGHEST generation; every intermediate read is complete
    assert(store.read(p).contains("ours"))
    val gens = fs.listStatus(new Path(dir, ".ptr-HEAD"))
      .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted
    assert(gens.last.endsWith(f"${4L}%019d"),
      s"expected the winning write at generation 4, got ${gens.toSeq}")

    // double 2: SPURIOUS 412s (key reported existing but nothing
    // written — e.g. a stale negative cache): retry converges on the
    // same generation
    val spurious = new AtomicInteger(5)
    val flaky = new ConditionalPut {
      override def putIfAbsent(path: Path, value: String): Unit =
        if (spurious.getAndDecrement() > 0)
          throw new PreconditionFailed(s"412 (spurious): $path")
        else inner.putIfAbsent(path, value)
      override def read(path: Path) = inner.read(path)
      override def list(d: Path) = inner.list(d)
      override def delete(path: Path) = inner.delete(path)
    }
    new GenerationPointerStore(flaky).write(p, "after-spurious")
    assert(store.read(p).contains("after-spurious"))

    // double 3: a REAL storage error is not contention — it must
    // propagate immediately, not spin 50 retries
    val onFire = new ConditionalPut {
      override def putIfAbsent(path: Path, value: String): Unit =
        throw new java.io.IOException("disk on fire")
      override def read(path: Path) = inner.read(path)
      override def list(d: Path) = inner.list(d)
      override def delete(path: Path) = inner.delete(path)
    }
    val e = intercept[java.io.IOException] {
      new GenerationPointerStore(onFire).write(p, "never")
    }
    assert(e.getMessage.contains("disk on fire"))
    assert(store.read(p).contains("after-spurious"), "state unchanged")
  }

  test("a LakeTable commits and reads through the generation store") {
    import spark.implicits._
    val root = TestSpark.tmpDir("ptr-gen-table") + "/t"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.scan().count() == 3)
    assert(t.history.count() == 3) // create + 2 appends
    // a fresh handle (new store instance) resolves the same HEAD
    val t2 = LakeTable.load(spark, root)
    assert(t2.scan().count() == 3)
    // no HEAD rename artifact exists — the pointer is generations only
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(root, s"${LakeTable.METADATA_DIR}/HEAD")))
    // generations are framed, not checksummed: no `.crc` siblings
    val ptrDir = new java.io.File(s"$root/${LakeTable.METADATA_DIR}/.ptr-HEAD")
    assert(ptrDir.list().nonEmpty && !ptrDir.list().exists(_.endsWith(".crc")),
      ptrDir.list().mkString(", "))
  }
}
