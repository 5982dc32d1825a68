package graft.ops

import java.lang.ref.WeakReference

import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.sql.SparkSession

import graft.SparkSpec

class PinSpec extends SparkSpec {

  test("pinAligned plans under the caller's runtime conf: a broadcast join the caller disabled stays off") {
    val fact = spark.range(0, 3000, 1, numPartitions = 7).toDF("k")
    val dim = spark.range(0, 100).toDF("k")
    // a broadcast join keeps the fact's 7 partitions; a sort-merge join
    // exchanges both sides into the session's shuffle partitions
    def pinnedParts(): Int = Pin.pinAligned(fact.join(dim, "k")).rdd.getNumPartitions
    val shuffleParts = spark.sessionState.conf.numShufflePartitions
    assert(shuffleParts != 7)
    assert(pinnedParts() == 7)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try {
      spark.conf.set(key, "-1")
      assert(pinnedParts() == shuffleParts, "the pin must honour the caller's disabled broadcast")
    } finally spark.conf.unset(key)
    // the caller's unset reaches the memoized clone too
    assert(pinnedParts() == 7)
  }

  test("a retired parent session's clone is collected and leaves no listener on the shared bus") {
    val sc = spark.sparkContext
    // the suite session's own clone exists before the baseline is taken
    Pin.pinAligned(spark.range(1).toDF("x"))
    ListenerBusShim.drain(sc)
    val listeners = ListenerBusShim.listenerCount(sc)
    // one pin through a short-lived parent; only weak references to it
    // and its clone survive this method. The read of the pin runs no
    // exchange: a new exchange-pool thread would inherit the parent as
    // its active session and hold it until the pool's keep-alive ends.
    def pinOnce(): (WeakReference[SparkSession], WeakReference[SparkSession]) = {
      val parent = spark.newSession()
      val df = parent.range(0, 100).toDF("k")
      assert(Pin.pinAligned(df).collect().length == 100)
      (new WeakReference(parent), new WeakReference(Pin.onClone(df)(_.sparkSession)))
    }
    val (parent, clone) = pinOnce()
    // refersTo, never get: a referent fetched into this frame (an
    // assert's captured operand included) would stay reachable from it
    assert(!clone.refersTo(null))
    ListenerBusShim.drain(sc)
    assert(ListenerBusShim.listenerCount(sc) == listeners,
      "a session registers no listener on the shared bus until a QueryExecutionListener is added")
    // the cache drops a collected parent's entry on its next use, so
    // every round pins once through the suite's own session
    def collected(): Boolean = {
      System.gc()
      Pin.pinAligned(spark.range(1).toDF("x"))
      parent.refersTo(null) && clone.refersTo(null)
    }
    assert(Iterator.range(0, 30).exists { _ => Thread.sleep(100); collected() },
      s"after 30 GC rounds: parent collected = ${parent.refersTo(null)}, clone collected = ${clone.refersTo(null)}")
    ListenerBusShim.drain(sc)
    assert(ListenerBusShim.listenerCount(sc) == listeners)
  }
}
