package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The artifact store's publish protocol under injected faults, on
  * throwaway source dirs. Builders write plain directories, so no Spark
  * session is needed: the protocol is pure file-system state.
  */
class ArtifactStoreSpec extends AnyFunSuite {

  private val store = graft.operators.Artifacts

  private def source(content: String = "generation one"): String = {
    val d = Files.createTempDirectory("graft_store_src")
    Files.write(d.resolve("documents.parquet"), content.getBytes("UTF-8"))
    d.toString
  }

  private def keyOf(kind: String, d: String): String =
    s"${kind}_${store.pathTag(d, "documents")}_${store.fingerprint(d, "documents")}"

  private def writeTable(name: String, payload: String): Unit = {
    val dir = new File(store.wh.tablePath(name))
    dir.mkdirs()
    Files.write(new File(dir, "payload").toPath, payload.getBytes("UTF-8")): Unit
  }

  private def payload(name: String): String = new String(
    Files.readAllBytes(new File(store.wh.tablePath(name), "payload").toPath),
    "UTF-8")

  private def marker(key: String): File = new File(store.wh.root, s"${key}__DONE")

  private def entries(prefix: String): Set[String] =
    Option(new File(store.wh.root).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.startsWith(prefix)).toSet

  /** A builder that counts its runs and writes `content`. */
  private class Builder(content: String) {
    val runs = new AtomicInteger()
    def apply(scratch: String): Unit = {
      runs.incrementAndGet()
      writeTable(scratch, content)
    }
  }

  test("a builder that throws publishes nothing, and the next call rebuilds") {
    val d = source()
    val key = keyOf("spec_throw", d)
    val err = intercept[IllegalStateException] {
      store.publish("spec_throw", d) { scratch =>
        writeTable(scratch, "half")
        throw new IllegalStateException("builder crashed")
      }
    }
    assert(err.getMessage == "builder crashed")
    assert(entries(key).isEmpty, "no live table, marker or scratch may remain")
    assert(!store.published("spec_throw").contains(key))
    val b = new Builder("whole")
    assert(store.publish("spec_throw", d)(b(_)) == key)
    assert(b.runs.get == 1 && payload(key) == "whole")
    assert(store.published("spec_throw").contains(key))
  }

  test("a published table with no done marker is rebuilt, never served") {
    val d = source()
    val key = keyOf("spec_torn", d)
    // a crash between the rename and the marker write
    writeTable(key, "torn")
    assert(!marker(key).exists())
    val b = new Builder("rebuilt")
    assert(store.publish("spec_torn", d)(b(_)) == key)
    assert(b.runs.get == 1)
    assert(payload(key) == "rebuilt")
    assert(new String(Files.readAllBytes(marker(key).toPath), "UTF-8") == "v1")
  }

  test("a stale-layout marker forces a rebuild; a current one is served") {
    val stale = source()
    val key = keyOf("spec_layout", stale)
    writeTable(key, "old shape")
    Files.write(marker(key).toPath, "v1".getBytes("UTF-8"))
    val b = new Builder("new shape")
    assert(store.publish("spec_layout", stale, layout = "v2")(b(_)) == key)
    assert(b.runs.get == 1 && payload(key) == "new shape")
    assert(new String(Files.readAllBytes(marker(key).toPath), "UTF-8") == "v2")
    // the same on-disk state with a CURRENT marker is served as is
    val current = source()
    val key2 = keyOf("spec_layout", current)
    writeTable(key2, "complete")
    Files.write(marker(key2).toPath, "v2".getBytes("UTF-8"))
    assert(store.publish("spec_layout", current, layout = "v2") { _ =>
      fail("a marked, current artifact must not rebuild")
    } == key2)
    assert(payload(key2) == "complete")
  }

  test("debris is pruned only once older than the age guard; lock files never") {
    val d = source()
    val key1 = keyOf("spec_prune", d)
    val gen = s"spec_prune_${store.pathTag(d, "documents")}_"
    val superseded = s"${gen}0123456789abcdef"
    val crashed = s"${key1}__bld0000abcd"
    writeTable(superseded, "superseded")
    Files.write(marker(superseded).toPath, "v1".getBytes("UTF-8"))
    Files.write(new File(store.wh.root, s"${superseded}__LOCK").toPath,
      Array.emptyByteArray)
    writeTable(crashed, "crashed scratch")
    val debris = Set(superseded, s"${superseded}__DONE", crashed)
    store.publish("spec_prune", d)(new Builder("gen 1")(_))
    assert(debris.subsetOf(entries(gen)), "young debris may be a live builder's")
    val old = System.currentTimeMillis() - store.pruneAgeMs - 60000L
    (debris + s"${superseded}__LOCK").foreach(n =>
      assert(new File(store.wh.root, n).setLastModified(old)))
    // regenerate the source: a new generation builds and prunes
    Files.write(new File(d, "documents.parquet").toPath,
      "generation two, longer".getBytes("UTF-8"))
    val key2 = keyOf("spec_prune", d)
    assert(key2 != key1)
    store.publish("spec_prune", d)(new Builder("gen 2")(_))
    val left = entries(gen)
    assert(debris.intersect(left).isEmpty, s"aged debris must be pruned: $left")
    assert(left.contains(s"${superseded}__LOCK"), "lock files are never swept")
    assert(left.contains(key1) && left.contains(s"${key1}__DONE"),
      "a superseded generation younger than the guard stays")
    assert(payload(key2) == "gen 2")
  }

  test("two threads building one key publish one generation without lock overlap") {
    val d = source()
    val key = keyOf("spec_race", d)
    val b = new Builder("raced")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, String]]()
    val threads = (1 to 2).map(_ => new Thread(() => {
      gate.await()
      results.add(
        try Right(store.publish("spec_race", d) { scratch =>
          Thread.sleep(200) // hold the build open while the other thread arrives
          b(scratch)
        })
        catch { case e: Throwable => Left(e) }): Unit
    }))
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(60000))
    val got = results.asScala.toSeq
    assert(got.size == 2)
    assert(got.forall(_ == Right(key)), s"both callers get the key: $got")
    assert(b.runs.get == 1, "one build per key per JVM")
    assert(entries(key) == Set(key, s"${key}__DONE", s"${key}__LOCK"),
      "exactly one generation, no scratch")
    assert(payload(key) == "raced")
  }
}
