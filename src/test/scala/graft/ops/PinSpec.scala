package graft.ops

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
}
