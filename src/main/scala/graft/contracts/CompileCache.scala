package graft.contracts

/** Process-wide memo for compiled contract artifacts (verdict
  * programs, bound generic first-violation expressions, rendered
  * columns).
  *
  * Compiling a contract against a schema is pure driver-side work —
  * per-leaf probe analyses, a full optimizer pass to constant-fold the
  * message scaffolding (VerdictCompiler.fold) — and its result
  * is a deterministic, immutable expression tree that depends only on
  * (contract, schema, check name). Re-running it on every query
  * construction re-paid hundreds of milliseconds of serial driver CPU
  * per invocation (measured round 6; the reference library builds each
  * contract once at module load, and Spark itself memoizes the
  * analogous artifact — generated Java — in its codegen cache). This
  * cache holds those artifacts keyed by contract IDENTITY (contracts
  * can embed predicate lambdas, so structural equality is not
  * available) plus the structural schema/name parts. Nothing here
  * caches DATA or query results: every action still recomputes from
  * its inputs; only the compile step is amortized, exactly like
  * Janino's generated-class cache.
  *
  * An entry may also hold what a compile costs to ship: the
  * `rowFirstViolation` entry keeps the generic first-violation tree
  * next to its deflated Java serialization
  * ([[graft.functions.ContractCheck.Generic]]), so the serialize and
  * deflate run once per compile, not once per query or stage.
  *
  * Bounded: the key space is the set of distinct (contract, schema)
  * pairs a process validates — a handful in any real run — but a
  * caller minting fresh contract objects per call would grow it, so
  * the map LRU-evicts past [[MaxEntries]] (recompile-on-miss is always
  * correct).
  */
object CompileCache {

  /** reference-identity wrapper so contracts with embedded lambdas can
    * key the memo. */
  final class IdRef(val o: AnyRef) {
    override def hashCode: Int = System.identityHashCode(o)
    override def equals(that: Any): Boolean = that match {
      case r: IdRef => r.o eq o
      case _ => false
    }
  }

  private val MaxEntries = 256
  // access-ordered LRU behind a synchronized wrapper: a caller minting
  // fresh contract objects per call (identity keys that never repeat)
  // evicts only the LEAST-RECENTLY-USED entries instead of wiping the
  // hot flagship artifacts this cache exists for
  private val m = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Any, AnyRef](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, AnyRef]): Boolean =
        size() > MaxEntries
    })

  /** memoize `build` under `key` (bounded LRU — an evicted entry only
    * re-pays one compile).
    *
    * `build` runs outside the lock, so a compile of hundreds of ms
    * blocks no other session and may itself call `memo`. Threads that
    * miss the same key may both build; every caller gets the first one
    * published, which is sound because a build is deterministic.
    *
    * The cache is process-wide while keys carry no session identity:
    * artifacts built under one session's SQLConf are served to every
    * session in the JVM. A caller whose fold depends on the conf must
    * put that conf in its key: `rowFirstViolation` keys the session
    * time zone (timestamp casts) and `spark.sql.ansi.enabled`
    * (overflow and cast semantics). */
  def memo[A <: AnyRef](key: Any)(build: => A): A =
    Option(m.get(key)).getOrElse {
      val built = build
      Option(m.putIfAbsent(key, built)).getOrElse(built)
    }.asInstanceOf[A]

  /** tests/diagnostics. */
  def size: Int = m.size
  def clear(): Unit = m.clear()
}
