package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, lit}

/** The shared file-proof engine over per-file statistics — the
  * manifest rows [[graft.sinks.ManifestTable]] commits (path,
  * row_count, c_min/c_max/c_nulls per tracked column) and the per-file
  * bloom indexes [[graft.sinks.ManifestTable.buildBloom]] keeps beside
  * a table. Consumers: the `format("graft")` scan's file listing
  * ([[graft.sources.v2.GraftManifestFileIndex]]), the row-level
  * operations' touched-file selection, and [[MetaAggRule]]'s
  * re-entrancy guard.
  *
  * Soundness is exclusion-by-proof: a file is dropped only when its
  * own statistics prove no row can match (an envelope misses the
  * conjunct's range, or the bloom filter denies every probed key —
  * blooms have no false negatives). Unknown cells (NULL min/max from a
  * writer that recorded no stats) and files with no index row degrade
  * to "keep". Spark still applies the full predicate to surviving
  * rows, so a kept-but-unmatching file costs I/O, never wrong rows.
  */
object StatsPruneRule extends org.apache.spark.internal.Logging {

  /** A committed per-file bloom index over one column. */
  final case class Entry(bloomRoot: String, bloomKey: String)

  private def canon(p: String): String = new Path(p).toUri.getPath

  /** Re-entrancy guard: every consumer of the proof engine issues
    * metadata queries during planning; those must not be pruned (or
    * recurse). */
  private[graft] val inMetadataQuery: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Conjuncts of a predicate. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  private def scalaLit(l: Literal): Column =
    lit(CatalystTypeConverters.convertToScala(l.value, l.dataType))

  /** Column reference by name, resolved or not: planner callers hand
    * this engine RESOLVED predicates (AttributeReference), while
    * [[graft.sinks.ManifestTable.deleteWhere]] hands it a user
    * Column's UNANALYZED expression (UnresolvedAttribute) — both must
    * yield their proofs. */
  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.name)
      case _ => None
    }
  }

  /** Per-column closed bounds (lo, hi) merged from `cond`'s conjuncts
    * (strict bounds relax to closed — sound, marginally less tight),
    * plus the equality probe keys for `bloomKey`'s column. */
  private def extractBounds(cond: Expression, bloomKey: Option[String])
      : (Map[String, Column], Map[String, Column], List[Column]) = {
    val lows = scala.collection.mutable.Map.empty[String, List[Column]]
    val highs = scala.collection.mutable.Map.empty[String, List[Column]]
    var keys = List.empty[Column]
    def addLo(c: String, v: Column): Unit =
      lows(c) = v :: lows.getOrElse(c, Nil)
    def addHi(c: String, v: Column): Unit =
      highs(c) = v :: highs.getOrElse(c, Nil)
    conjuncts(cond).foreach {
      case EqualTo(Attr(a), v: Literal) =>
        addLo(a, scalaLit(v)); addHi(a, scalaLit(v))
        if (bloomKey.contains(a)) keys ::= scalaLit(v)
      case EqualTo(v: Literal, Attr(a)) =>
        addLo(a, scalaLit(v)); addHi(a, scalaLit(v))
        if (bloomKey.contains(a)) keys ::= scalaLit(v)
      case GreaterThan(Attr(a), v: Literal) => addLo(a, scalaLit(v))
      case GreaterThanOrEqual(Attr(a), v: Literal) => addLo(a, scalaLit(v))
      case LessThan(Attr(a), v: Literal) => addHi(a, scalaLit(v))
      case LessThanOrEqual(Attr(a), v: Literal) => addHi(a, scalaLit(v))
      case GreaterThan(v: Literal, Attr(a)) => addHi(a, scalaLit(v))
      case GreaterThanOrEqual(v: Literal, Attr(a)) => addHi(a, scalaLit(v))
      case LessThan(v: Literal, Attr(a)) => addLo(a, scalaLit(v))
      case LessThanOrEqual(v: Literal, Attr(a)) => addLo(a, scalaLit(v))
      case In(Attr(a), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        if (bloomKey.contains(a))
          keys :::= vs.map(v => scalaLit(v.asInstanceOf[Literal])).toList
      case InSet(ar: AttributeReference, vs) => // post-optimizer shape only
        if (bloomKey.contains(ar.name))
          keys :::= vs.toList.map(v => lit(
            CatalystTypeConverters.convertToScala(v, ar.dataType)))
      case _ => () // unsupported conjunct: contributes no proof
    }
    (lows.view.mapValues(_.reduce((x, y) =>
        org.apache.spark.sql.functions.greatest(x, y))).toMap,
      highs.view.mapValues(_.reduce((x, y) =>
        org.apache.spark.sql.functions.least(x, y))).toMap,
      keys)
  }

  /** Envelope proofs against a stats frame (path, row_count,
    * c_min/c_max/c_nulls per tracked column) — canonical paths of
    * files the envelopes PROVE cannot match `cond`. Shared by the DSv2
    * listing and [[graft.sinks.ManifestTable]]'s file-granular
    * row-level ops. Throws on schema drift — callers decide whether a
    * failed proof degrades (pruning: keep everything) or aborts. */
  private[graft] def excludedByEnvelopes(spark: SparkSession,
                                         cond: Expression,
                                         stats: DataFrame,
                                         statsCols: Seq[String]): Set[String] = {
    // ANALYZED-but-unoptimized conditions (the row-level ops resolve
    // user predicates against an empty frame, SQL literals arrive as
    // Cast(Literal)) need expression-level constant folding before
    // the bound extraction's strict Literal matches can see them —
    // the pushed-filter callers get this for free from the optimizer.
    // Foldable-but-Unevaluable expressions exist (current_timestamp/
    // current_date are only substituted by the optimizer's
    // ComputeCurrentTime, which never runs here) — a failed eval
    // keeps the expression unfolded, which degrades to no proof from
    // that conjunct, never to a failed statement
    val folded = cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        try Literal.create(e.eval(null), e.dataType)
        catch { case _: RuntimeException => e }
    }
    val (lows, highs, _) = extractBounds(folded, None)
    val ranges = statsCols.flatMap { c =>
      val lo = lows.get(c)
      val hi = highs.get(c)
      if (lo.isEmpty && hi.isEmpty) None
      // an open side becomes a NULL bound (NullType coerces to the
      // envelope's type): its comparison is unknown, and the explicit
      // `<=> true` proofs below treat unknown as "keep" — an open
      // bound prunes nothing, soundly
      else Some((c, lo.getOrElse(lit(null)), hi.getOrElse(lit(null))))
    }
    if (ranges.isEmpty) Set.empty
    else {
      // a file is excluded only on PROOF: its envelope misses some
      // range, or every row of a ranged column is NULL (a range
      // predicate rejects NULL). NULL min/max with an unknown null
      // count — stats a writer didn't record — proves nothing
      val excluded = ranges.map { case (c, lo, hi) =>
        val misses = (col(s"${c}_max") < lo) || (col(s"${c}_min") > hi)
        val allNull = col(s"${c}_nulls") === col("row_count")
        (misses <=> lit(true)) || (allNull <=> lit(true))
      }.reduce(_ || _)
      stats.filter(excluded).select("path").collect()
        .map(r => canon(r.getString(0))).toSet
    }
  }

  /** Dual of [[excludedByEnvelopes]]: canonical paths of files whose
    * envelopes PROVE every row matches `cond` — the whole-file grain
    * of DELETE / replaceWhere (Iceberg's metadata delete, Delta's
    * partition-aligned drop, generalized to any clustered layout): a
    * proven file leaves the manifest BY REFERENCE, zero data I/O —
    * the retention-delete shape a 100 TB time-clustered table needs.
    *
    * Sound under SQL's three-valued DELETE semantics: a row where
    * `cond` is NULL is KEPT, so a file qualifies only when (a) the
    * structural subsumption proof below evaluates TRUE on its
    * envelope and (b) every column `cond` references has ZERO nulls
    * in the file — with null-free operands these comparison shapes
    * are two-valued, so "not FALSE anywhere" and "no NULL anywhere"
    * together give "TRUE everywhere". Subsumption: `a < v` holds for
    * every row iff `a_max < v`, equality iff the envelope is the
    * point, And/Or/Not recurse (Or sufficiently: one branch covering
    * every row covers the disjunction; its dual, every-row-FAILS,
    * needs both branches). Any unsupported shape, untracked column,
    * or unknown envelope cell (NULL min/max under the `<=> true`
    * gate) yields no proof — the file degrades to the rewrite path,
    * never to a wrong drop. */
  private[graft] def wholeFileMatched(cond: Expression,
                                      stats: DataFrame,
                                      statsCols: Seq[String]): Set[String] = {
    // same pre-fold as excludedByEnvelopes: SQL literals arrive as
    // Cast(Literal); foldable-but-unevaluable stays unfolded (no proof)
    val folded = cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        try Literal.create(e.eval(null), e.dataType)
        catch { case _: RuntimeException => e }
    }
    // normalize literal-first comparisons so the proofs below see one
    // shape (literal-vs-literal no longer exists: folded above)
    val norm = folded.transformUp {
      case LessThan(v: Literal, a) => GreaterThan(a, v)
      case LessThanOrEqual(v: Literal, a) => GreaterThanOrEqual(a, v)
      case GreaterThan(v: Literal, a) => LessThan(a, v)
      case GreaterThanOrEqual(v: Literal, a) => LessThanOrEqual(a, v)
      case EqualTo(v: Literal, a) => EqualTo(a, v)
    }
    val refs = norm.collect {
      case a: AttributeReference => a.name
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.name
    }.distinct
    if (refs.isEmpty || !refs.forall(statsCols.contains)) return Set.empty
    // every-row-MATCHES / every-row-FAILS proofs over one stats row,
    // mutually recursive through Not; None = not provable. The
    // IsNull/IsNotNull leaves lean on the null-free gate ANDed into
    // the final filter (their column is in `refs` by construction).
    def matches(e: Expression): Option[Column] = e match {
      case And(l, r) => for (a <- matches(l); b <- matches(r)) yield a && b
      case Or(l, r) => (matches(l), matches(r)) match {
        case (None, None) => None
        case (a, b) => Some(Seq(a, b).flatten.reduce(_ || _))
      }
      case Not(x) => fails(x)
      case LessThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") < scalaLit(v))
      case LessThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") <= scalaLit(v))
      case GreaterThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") > scalaLit(v))
      case GreaterThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") >= scalaLit(v))
      case EqualTo(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") >= scalaLit(v) &&
          col(s"${a}_max") <= scalaLit(v))
      case In(ae, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        // every row ∈ {v…} is provable per file when the whole
        // envelope is ONE of the points (a file mixing two members
        // honestly rewrites — the common partition-per-value layout
        // never mixes); sufficient, like the Or case
        val per = vs.map(v =>
          matches(EqualTo(ae, v.asInstanceOf[Literal])))
        if (per.exists(_.isEmpty)) None
        else Some(per.flatten.reduce(_ || _))
      case IsNotNull(Attr(_)) => Some(lit(true))
      case Literal(true, org.apache.spark.sql.types.BooleanType) =>
        Some(lit(true))
      case _ => None
    }
    def fails(e: Expression): Option[Column] = e match {
      case And(l, r) => (fails(l), fails(r)) match {
        case (None, None) => None
        case (a, b) => Some(Seq(a, b).flatten.reduce(_ || _))
      }
      case Or(l, r) => for (a <- fails(l); b <- fails(r)) yield a && b
      case Not(x) => matches(x)
      case LessThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") >= scalaLit(v))
      case LessThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") > scalaLit(v))
      case GreaterThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") <= scalaLit(v))
      case GreaterThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") < scalaLit(v))
      case EqualTo(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") < scalaLit(v) ||
          col(s"${a}_min") > scalaLit(v))
      case In(Attr(a), vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map { v =>
          val c = scalaLit(v.asInstanceOf[Literal])
          col(s"${a}_max") < c || col(s"${a}_min") > c
        }.reduce(_ && _))
      case IsNull(Attr(_)) => Some(lit(true))
      case Literal(false, org.apache.spark.sql.types.BooleanType) =>
        Some(lit(true))
      case _ => None
    }
    matches(norm) match {
      case None => Set.empty
      case Some(proof) =>
        val nullFree = refs.map(c => col(s"${c}_nulls") === lit(0L))
          .reduce(_ && _)
        stats.filter((proof && nullFree) <=> lit(true)).select("path")
          .collect().map(r => canon(r.getString(0))).toSet
    }
  }

  /** VERSION-KEYED bloom proof cache: the planning-time index query
    * (one collect per indexed column) is re-issued for every plan of
    * a hot table, so identical proofs memoize. The key carries the
    * index epoch's CURRENT VERSION and that version's commit stamp
    * (cheap FS reads, no Spark job) plus the canonicalized predicate —
    * a rebuild bumps the version, and an index deleted and rebuilt
    * from version 0 (a re-created table at the same root, a
    * type-widening rebuild) carries a new stamp, so a cached entry can
    * only ever be served for the exact epoch it was proven against.
    * Bounded LRU; an unresolvable predicate simply skips the cache.
    * The second identical query on an unchanged index issues ZERO
    * metadata jobs (PlanSpec-counted). */
  private val ProofCacheMax = 256
  private val proofCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Set[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Set[String]]): Boolean =
        size() > ProofCacheMax
    })

  /** Uncached proof computations (each costs the metadata jobs) —
    * test-visible, so the cache contract is pinned directly: a cache
    * hit must leave this untouched. */
  private[graft] val proofComputations = new java.util.concurrent.atomic.AtomicLong(0L)

  private def proofKey(spark: SparkSession, cond: Expression,
                       entry: Entry): Option[String] =
    try {
      val v = graft.sinks.VersionedTable.latestVersion(spark, entry.bloomRoot)
      val ts = graft.sinks.VersionedTable.commitTimestamp(spark,
        entry.bloomRoot, v).getOrElse(-1L)
      // exprIds are fresh per reader instantiation, and the pushed
      // conjuncts arrive in plan-dependent order — key on the sorted,
      // id-stripped canonical conjuncts so identical predicates from
      // separate reads of the same table hit the same entry
      Some(s"${entry.bloomRoot}|$v|$ts|${entry.bloomKey}|" +
        conjuncts(cond).map(_.canonicalized.toString
          .replaceAll("#\\d+", "")).sorted.mkString(" AND "))
    } catch { case _: Exception => None }

  /** Canonical paths of indexed files whose bloom denies EVERY
    * equality/IN probe key `cond` pins on the index's column. Any
    * failure logs and excludes nothing — pruning is an optimization,
    * never a correctness dependency. */
  private[graft] def bloomExcluded(spark: SparkSession, cond: Expression,
                                   entry: Entry): Set[String] = {
    val (_, _, keys) = extractBounds(cond, Some(entry.bloomKey))
    if (keys.isEmpty) return Set.empty
    val key = proofKey(spark, cond, entry)
    key.flatMap(k => Option(proofCache.get(k))) match {
      case Some(hit) => hit
      case None =>
        val computed = bloomExcludedUncached(spark, keys, entry)
        key.foreach(k => proofCache.put(k, computed): Unit)
        computed
    }
  }

  private def bloomExcludedUncached(spark: SparkSession, keys: Seq[Column],
                                    entry: Entry): Set[String] = {
    proofComputations.incrementAndGet(): Unit
    inMetadataQuery.set(true)
    try {
      graft.sources.FileBloomIndex.excludedFiles(
          graft.sources.FileBloomIndex.read(spark, entry.bloomRoot), keys)
        .collect().map(r => canon(r.getString(0))).toSet
    } catch {
      case e: Exception =>
        logWarning(s"graft bloom pruning skipped for ${entry.bloomRoot}: $e")
        Set.empty
    } finally inMetadataQuery.set(false)
  }
}
