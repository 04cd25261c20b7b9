package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

package object tjk {
  /** Event time → epoch micros. Driver parquet carries TIMESTAMP_NTZ;
    * `unix_micros` wants TIMESTAMP. The session time zone is pinned to UTC
    * (build.sbt / Verify / Bench), so the NTZ→TZ cast is a pure
    * reinterpretation — no wall-clock shift — and the same expression works
    * for both timestamp flavors.
    */
  def tsMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** A window, gap or tolerance in µs, exact (sub-millisecond parts kept);
    * throws on overflow rather than wrapping.
    */
  def micros(d: java.time.Duration): Long =
    Math.addExact(Math.multiplyExact(d.getSeconds, 1000000L), d.getNano / 1000L)

  /** A window in an output column name: `<n>s` when it is whole seconds,
    * else `<n>us`, so windows that differ below a second get distinct names.
    */
  private[tjk] def windowName(d: java.time.Duration): String =
    if (d.getNano == 0) s"${d.getSeconds}s" else s"${micros(d)}us"

  /** md5-derived deterministic bucket in [0, n) — the repo's ONE convention
    * for subset predicates and resume buckets that an external engine must
    * replicate (DuckDB has md5 but not xxhash64). The Spark expression and
    * the SQL twin are generated from the same formula so the two sides of
    * an oracle can never drift character-by-character.
    */
  def md5Bucket(c: Column, n: Int): Column =
    pmod(ascii(substring(md5(c), 32, 1)), lit(n))

  /** DuckDB twin of [[md5Bucket]] (ascii of the last hex char is
    * non-negative, so `%` and pmod agree).
    */
  def md5BucketSql(colName: String, n: Int): String =
    s"ascii(substring(md5($colName), 32, 1)) % $n"

  /** Recursive delete with a null-safe listFiles (an unreadable/raced dir
    * returns null, which must not NPE a cleanup path). One shared helper —
    * three near-identical private copies had drifted on exactly that guard.
    */
  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete()
  }

  /** Collects a tiny report into a local-relation DataFrame, so the frames
    * persisted while building it can be released before it is returned
    * (the caller hands back a DataFrame whose evaluation must not depend on
    * a cache it is about to release). Collecting the result again runs no
    * Spark job.
    */
  def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
}
