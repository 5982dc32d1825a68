package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up probe: materialize an F× replica of an sf directory with
  * join structure preserved, so every registered query can run
  * unmodified against a dataset 4×/16×/… the bench scale. This is the
  * "would the plan survive a scale-up" experiment the 100 TB design
  * claims demand.
  *
  * Replication rules (copy i of F):
  *  - fact/dimension keys shift by i·maxKey consistently on both sides
  *    of every FK (orders.o_custkey and customer.c_custkey shift
  *    together), so join selectivities and group cardinalities scale
  *    linearly instead of degenerating;
  *  - region/nation stay single-copy (true dimensions);
  *  - document text gets a per-copy Caesar shift so cross-copy word
  *    sets are disjoint — corpus grows F× while near-dup structure
  *    stays per-copy (realistic growth, no quadratic pair blowup);
  *  - embeddings rotate by i components — copies decorrelate instead
  *    of being exact duplicates.
  *
  * Usage: runMain graft.tools.ScaleProbe <srcSfDir> <outDir> <factor>
  * then: SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.GraftSession.local()
    materialize(spark, src, out, factor)
    spark.stop()
  }

  def materialize(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name x$factor written")
    }

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0) + 1

    val (cust, ord, li, prt, sup) = (t("customer"), t("orders"), t("lineitem"), t("part"), t("supplier"))
    val (mCust, mOrd, mPart, mSupp) =
      (maxOf(cust, "c_custkey"), maxOf(ord, "o_orderkey"), maxOf(prt, "p_partkey"), maxOf(sup, "s_suppkey"))

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_ unionByName _)

    write(t("region"), "region")
    write(t("nation"), "nation")
    write(copies(cust)((d, i) => d.withColumn("c_custkey", col("c_custkey") + lit(i * mCust))), "customer")
    write(copies(ord)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * mOrd))
      .withColumn("o_custkey", col("o_custkey") + lit(i * mCust))), "orders")
    write(copies(li)((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * mOrd))
      .withColumn("l_partkey", col("l_partkey") + lit(i * mPart))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * mSupp))), "lineitem")
    write(copies(prt)((d, i) => d.withColumn("p_partkey", col("p_partkey") + lit(i * mPart))), "part")
    write(copies(sup)((d, i) => d.withColumn("s_suppkey", col("s_suppkey") + lit(i * mSupp))), "supplier")

    // events carries TIMESTAMP(NANOS) — read through the Tables loader
    // (nanosAsLong + µs conversion); the replica is written with
    // standard µs timestamps, which Tables.events passes through.
    val ev = graft.ops.Tables.events(spark, src)
    val (mEv, mUser) = (maxOf(ev, "event_id"), maxOf(ev, "user_id"))
    write(copies(ev)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * mEv))
      .withColumn("user_id", col("user_id") + lit(i * mUser))), "events")

    val docs = t("documents")
    val mDoc = maxOf(docs, "doc_id")
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    write(copies(docs)((d, i) => {
      val shifted = alphabet.drop(i % 26) + alphabet.take(i % 26)
      d.withColumn("doc_id", col("doc_id") + lit(i * mDoc))
        .withColumn("text", translate(col("text"), alphabet, shifted))
    }), "documents")

    val emb = t("embeddings")
    val mVec = maxOf(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write(copies(emb)((d, i) => {
      val rot = i % dim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot), slice(col("embedding"), 1, rot))
      d.withColumn("vec_id", col("vec_id") + lit(i * mVec))
        .withColumn("embedding", rotated)
    }), "embeddings")
  }
}
