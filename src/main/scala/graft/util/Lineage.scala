package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage cuts at the points where a remote client's output fans out.
  *
  * Spark re-executes a `mapPartitions` client once for every plan branch
  * that reads it, and again for a range sort's sampling job, so a frame
  * read by two branches fetches, prompts or embeds each row twice. A cut
  * materialises the frame once and every later branch reads the
  * materialised blocks.
  */
object Lineage {

  /** Materialises `df` now (one job) into executor storage and returns a
    * frame over the result. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()
}
