package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** The engine's package-private steps the benchmark's traced runs call,
  * so a traced run splits an operator into the calls it really makes
  * instead of into a copy of them. Compiled with the benchmark only. */
object BenchAccess {
  /** MinHash signatures from a (doc, h0) base-hash frame, the step
    * [[Dedup.minhashNearDupPairs]] runs on its shingle sets. */
  def signaturesFromBaseHashes(sh: DataFrame, k: Int): DataFrame =
    Dedup.signaturesFromBaseHashes(sh, k)

  /** The pigeonhole key table [[Dedup.hammingNearDupPairs]] self-joins,
    * with its default blocking. */
  def pigeonholeKeys(fp: DataFrame, radius: Int, width: Int): DataFrame =
    Dedup.pigeonholeKeys(fp, radius, width, None, 1)
}
