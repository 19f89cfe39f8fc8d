package org.apache.spark.sql.execution

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[execution]` join hash table, the one a
  * broadcast hash join builds on the driver: `graft.plans.RecursiveExpandExec`
  * probes it once per recursion level. */
object GraftJoinBridge {
  /** A built hash table; `get` is empty for a key with no rows. */
  final class Hashed private[GraftJoinBridge] (relation: joins.HashedRelation) {
    def get(key: InternalRow): Iterator[InternalRow] =
      Option(relation.get(key)).getOrElse(Iterator.empty)
    def close(): Unit = relation.close()
  }

  /** `rows` (unsafe rows) hashed on `keys`, bound to the rows' schema;
    * rows with a null key are left out, as in a broadcast hash join. */
  def hashed(rows: Iterator[InternalRow], keys: Seq[Expression], size: Int): Hashed =
    new Hashed(joins.HashedRelation(rows, keys, size))
}
