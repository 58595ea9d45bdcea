package org.apache.spark.shuffle.graft

import org.apache.spark.SparkConf
import org.apache.spark.shuffle.sort.SortShuffleManager

/** Pluggable shuffle seam: the engine analog of the reference's whole
  * reason to exist — UDA replaces Hadoop/Spark's shuffle transport with
  * an RDMA client/server pair (reference src/DataNet/RDMAClient.cc,
  * RDMAServer.cc) behind the framework's pluggable shuffle interface
  * (plugins/shared/.../UdaShuffleConsumerPluginShared.java:162-344),
  * leaving the vanilla shuffle in place beneath it.
  *
  * Spark's equivalent plug point is `spark.shuffle.manager`; this class
  * occupies it as the built-in [[SortShuffleManager]] itself. On
  * RDMA-capable hardware, `getReader` / `getWriter` are the two methods
  * a transport-optimized implementation would override (fetch
  * iterators and push streams respectively) — registration, handles,
  * block resolution and the sort/spill machinery stay exactly as Spark
  * implements them, which is what makes the seam cheap to occupy and
  * safe to swap.
  *
  * It SUBCLASSES rather than delegates because Spark gates its SQL
  * exchange fast path on the type: `ShuffleExchangeExec`
  * (`needToCopyObjectsBeforeShuffle`) skips the per-row copy before
  * the shuffle write only when the active manager is a
  * `SortShuffleManager`. A delegating manager makes every exchange
  * copy every row.
  *
  * Lives under `org.apache.spark.shuffle` because the ShuffleManager
  * SPI is `private[spark]`; Spark instantiates it reflectively from the
  * `spark.shuffle.manager` conf with the (SparkConf, isDriver) or
  * (SparkConf) constructor.
  */
private[spark] class GraftShuffleManager(conf: SparkConf)
    extends SortShuffleManager(conf)
