package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one owner of per-application working state: where a query's
  * scratch directories live, which built fixtures are shared inside
  * one application, and when both go away.
  *
  *  - [[dir]] names a directory under the application's root,
  *    `/tmp/graft_<applicationId>`. Keying the root by application
  *    keeps two processes (a test run and a correctness dump, two
  *    bench runs) from deleting each other's files. The first call
  *    for a root registers a JVM-exit hook that deletes it.
  *  - [[get]] builds a fixture once per (application, dataset, name)
  *    and hands every later caller the same value.
  *  - [[reset]] deletes the application's root and forgets its
  *    fixtures, so the next caller rebuilds them from scratch.
  *
  * A build runs outside the catalog map's lock, through a lazy holder
  * per key: builds nest (the CC labels build reads the edge fixture,
  * and a streaming twin's micro-batch may force the shared IVF-PQ
  * index on the stream thread), and `ConcurrentHashMap` forbids a
  * mapping function that touches its own map. Two concurrent callers
  * of one key share one build; a build that throws leaves no entry,
  * so the next call retries.
  */
object Fixtures {
  private final class Holder(build: => Any) {
    lazy val value: Any = build
  }

  private val catalog = new ConcurrentHashMap[(String, String, String), Holder]()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  private def root(s: SparkSession): String = {
    val r = s"/tmp/graft_${s.sparkContext.applicationId}"
    // per-file Try at exit: Derby and Spark shutdown hooks may still
    // write here concurrently (best-effort cleanup)
    if (hooked.add(r))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        scala.util.Try(deepestFirst(r))
          .foreach(_.foreach(f => scala.util.Try(Files.deleteIfExists(f))))))
    r
  }

  /** `<root>/<name>`, for scratch that no dataset keys. */
  def dir(s: SparkSession, name: String): String = s"${root(s)}/$name"

  /** `<root>/<name>_<sha1(d)>`. The SHA-1 of the dataset path keeps two
    * dataset dirs in one application apart; a 32-bit `hashCode` could
    * collide and let the second write clobber the first one's table. */
  def dir(s: SparkSession, d: String, name: String): String =
    dir(s, s"${name}_${sha1(d)}")

  /** The value `build` returns, built once per (application, dataset,
    * name); every later call with that key returns it unchanged. */
  def get[A](s: SparkSession, d: String, name: String)(build: => A): A = {
    val key = (s.sparkContext.applicationId, d, name)
    val h = catalog.computeIfAbsent(key, _ => new Holder(build))
    try h.value.asInstanceOf[A]
    catch { case e: Throwable => catalog.remove(key, h); throw e }
  }

  /** Delete the application's root tree and drop its catalog entries. */
  def reset(s: SparkSession): Unit = {
    val app = s.sparkContext.applicationId
    catalog.keySet.removeIf(_._1 == app)
    deleteTree(root(s))
  }

  /** Delete the tree at `p`, if there is one. */
  def deleteTree(p: String): Unit =
    deepestFirst(p).foreach(f => Files.deleteIfExists(f))

  private def deepestFirst(p: String): Vector[Path] = {
    val path = Paths.get(p)
    if (!Files.exists(path)) Vector.empty
    else {
      val st = Files.walk(path)
      try st.iterator().asScala.toVector.reverse finally st.close()
    }
  }

  private def sha1(d: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
