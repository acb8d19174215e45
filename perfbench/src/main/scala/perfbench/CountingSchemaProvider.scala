package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport

import graft.avro.SchemaProvider

/** Stand-in for the HTTP schema registry: serves writer schemas from a map
  * after a fixed per-fetch delay (the registry round trip) and counts every
  * fetch.
  *
  * Tasks deserialize their own copy of the provider, so the counters cannot
  * live in the instance: they sit in a JVM-global map keyed by the cache
  * token, which is also the key of the program's decoder-state cache. Every
  * run mints a fresh token ([[CountingSchemaProvider.fresh]]), so it starts
  * with a cold schema cache and zeroed counters. */
final case class CountingSchemaProvider(
    byId: Map[Int, String],
    override val cacheToken: String,
    delayNanos: Long
) extends SchemaProvider {

  override def schemaJsonById(id: Int): Option[String] = {
    val t0 = System.nanoTime()
    val deadline = t0 + delayNanos
    var now = t0
    while (now < deadline) {
      LockSupport.parkNanos(deadline - now)
      now = System.nanoTime()
    }
    val c = CountingSchemaProvider.counters(cacheToken)
    c.fetches.increment()
    c.fetchNanos.add(System.nanoTime() - t0)
    byId.get(id)
  }
}

object CountingSchemaProvider {
  final class Counters {
    val fetches = new LongAdder
    val fetchNanos = new LongAdder
  }

  private val byToken = new ConcurrentHashMap[String, Counters]()

  def counters(token: String): Counters =
    byToken.computeIfAbsent(token, _ => new Counters)

  private val serial = new java.util.concurrent.atomic.AtomicLong

  def fresh(byId: Map[Int, String], tag: String,
      delayNanos: Long): CountingSchemaProvider =
    CountingSchemaProvider(byId,
      s"perfbench-$tag-${ProcessHandle.current().pid()}-" +
        s"${System.nanoTime()}-${serial.incrementAndGet()}",
      delayNanos)
}
