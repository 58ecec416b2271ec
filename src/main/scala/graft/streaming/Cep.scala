package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Complex event processing: a Flink-CEP-style pattern API compiled to
  * a small NFA, runnable over batch groups and keyed streams.
  *
  * Reference: pattern API `flink-libraries/flink-cep/.../pattern/
  * Pattern.java:50` (`where:156`, `optional:333`, `oneOrMore:352`,
  * `within`), NFA `.../nfa/NFA.java:85`, iterative conditions
  * (predicates see the partial match's bindings), used by SQL
  * MATCH_RECOGNIZE via `StreamExecMatch.scala:69`.
  *
  * Semantics implemented: relaxed contiguity (followedBy), strict
  * contiguity (`next`, Pattern.java:475 — the event immediately after
  * the previous step's binding must match or the partial dies; also
  * MATCH_RECOGNIZE's default `A B` adjacency), negation (`notNext`
  * Pattern.java:205, `notFollowedBy` Pattern.java:177 — a matching
  * event kills the partial; strict form guards exactly the next event,
  * relaxed form guards every event until the following step binds),
  * `optional`, `oneOrMore` (accumulates, emits on first completion),
  * `times(n)` (Pattern.java:382), `until` (Pattern.java:220 — closes a
  * looping step; the closing event is not consumed by the loop),
  * reluctant loops by DEFAULT with a `greedy` opt-out (Pattern.java:520
  * — every satisfied occurrence also spawns the stopped-loop branch,
  * so A+ B over A A B yields {A1}B, {A1 A2}B and {A2}B exactly as the
  * reference NFA; `greedy` keeps only the maximal form),
  * `within` time bound, after-match skip strategies (cep/nfa/
  * aftermatch/): NO_SKIP, SKIP_PAST_LAST_EVENT, SKIP_TO_NEXT,
  * SKIP_TO_FIRST/SKIP_TO_LAST(step), and
  * timed-out partial matches returned as a third output (Flink's
  * timed-out side output, approximated as a tagged second stream —
  * SURVEY §7.3).
  *
  * Strict contiguity is EXACT everywhere, including after loops and
  * optionals (`A+ next B`, `A B? next C`): strict heads are only
  * observable by partials POSITIONED at them when an event arrives.
  * Whenever a bind leaves a strict step reachable (the loop "might end
  * here", an optional "might stay unbound"), the NFA arms an explicit
  * branch at that strict head — the materialized form of Flink's
  * shared-buffer branching (one armed branch per loop occurrence,
  * which the immediately-next event either completes or kills).
  * Binding storage is persistent `Vector`s: partials branching from a
  * common prefix SHARE the prefix trie (append = O(log32 n) new nodes,
  * never a copy) — the same prefix-sharing `SharedBuffer.java` gets
  * from its event store + versioned back-pointers, expressed as a
  * persistent data structure. A partial that merely DRIFTS into a
  * strict head by skipping satisfied/optional steps on a later event
  * is retained where it stood (or dies, if nothing it skipped can ever
  * bind again) — it never binds the strict step relaxed.
  *
  * Scale notes: pattern matching is keyed — partials live per key and
  * are pruned by `within`, so state is bounded by (open partials ×
  * pattern length). Batch mode sorts each key group once; streaming
  * mode keeps partials in GroupState.
  */
object Cep {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.cep")

  /** Hot-key state safety valve. The partial-match list is bounded in
    * practice by `within` pruning and reluctant-default loops, but an
    * adversarial workload — a hot key feeding a long greedy `oneOrMore`
    * under NoSkip — starts a new partial at every loop event. Binding
    * prefixes are SHARED across branched partials (persistent-Vector
    * tries — the `cep/nfa/sharedbuffer/SharedBuffer.java` economy), so
    * memory is O(distinct bound events + partials·log len), but the
    * per-event predicate sweep is still O(open partials). `maxPartials` is
    * ADMISSION control: once a key is saturated, new pattern STARTS
    * are shed (loudly — a WARN per advance pass plus the `onDrop`
    * callback) while in-flight partials keep running to completion;
    * evicting oldest instead would kill matches just before they
    * complete. Default = unbounded, the reference's behavior. */
  final case class CepGuard(maxPartials: Int = Int.MaxValue,
                            onDrop: Int => Unit = _ => ()) extends Serializable

  /** After-match skip strategy (reference cep/nfa/aftermatch/
    * AfterMatchSkipStrategy.java): what happens to OTHER partial
    * matches when a match completes. */
  sealed trait AfterMatchSkip
  /** Keep all partials — every started partial may still complete. */
  case object NoSkip extends AfterMatchSkip
  /** Discard partials that started at or before the completed match's
    * last event (SkipPastLastStrategy.java). */
  case object SkipPastLastEvent extends AfterMatchSkip
  /** Discard partials that started at the same event as the completed
    * match (SkipToNextStrategy.java). */
  case object SkipToNext extends AfterMatchSkip
  /** Discard partials that started strictly before the FIRST event the
    * completed match bound to step `name`
    * (SkipToFirstStrategy.java via SkipToElementStrategy.shouldPrune:
    * start < pruningId; partials starting AT the boundary survive).
    * A match without the step bound (optional) prunes nothing — the
    * reference's non-throwing variant. */
  case class SkipToFirst(name: String) extends AfterMatchSkip
  /** Same with the LAST bound occurrence of step `name`
    * (SkipToLastStrategy.java). */
  case class SkipToLast(name: String) extends AfterMatchSkip

  /** A pattern step; `pred` is an iterative condition — it sees the
    * candidate event and the events bound so far (Flink
    * IterativeCondition). `times` = minimum occurrence count (1 =
    * plain); `timesMax` > times turns it into a range quantifier
    * times(m,n); `untilPred` closes a oneOrMore loop when it fires.
    * `strict` = strict contiguity (`next`: the event immediately after
    * the previous binding must match, else the partial dies);
    * `negated` = a guard step that binds nothing — an event matching
    * `pred` KILLS the partial (`notNext` when strict: guards exactly
    * the next event; `notFollowedBy` when relaxed: guards every event
    * until the following step binds).
    *
    * `alts` nonEmpty makes this an ALTERNATION step (SQL pattern
    * `(B|C)`, reference `cep/pattern/GroupPattern.java` group
    * patterns): an event matches if any alternative's predicate does,
    * and binds under the FIRST matching alternative's name (leftmost
    * preference, deterministic — no backtracking across alternatives;
    * the classifier identity is preserved so MEASURES can reference
    * each alternative separately). `name` is display-only for such a
    * step; quantifiers count occurrences ACROSS alternatives, so
    * `(B|C)+` is a loop whose occurrences may bind different names. */
  case class Step[T](name: String,
                     pred: (T, Map[String, Vector[T]]) => Boolean,
                     optional: Boolean = false,
                     oneOrMore: Boolean = false,
                     times: Int = 1,
                     timesMax: Int = 0,
                     untilPred: Option[(T, Map[String, Vector[T]]) => Boolean] = None,
                     strict: Boolean = false,
                     negated: Boolean = false,
                     loopConsecutive: Boolean = false,
                     greedy: Boolean = false,
                     alts: Vector[(String, (T, Map[String, Vector[T]]) => Boolean)] = Vector.empty)

  /** A quantified CONCATENATION group `(A B){m,n}` (reference
    * `cep/pattern/GroupPattern.java:30`, built by
    * `Pattern.begin(Pattern)` and quantified via the inherited
    * `times`/`oneOrMore`/`optional`): the step range [start, end] is
    * one loop body. Completing the body (binding step `end`) bumps
    * the repetition count; below `min` the partial MUST loop back to
    * `start`, in [min, max) it both loops back AND exits (reluctant,
    * like every loop here), at `max` it exits only. Occurrences
    * accumulate under each body step's own name across iterations,
    * exactly as the reference's group loop re-binds the inner
    * patterns.
    *
    * `min == 0` is the OPTIONAL group (`(A B)?`, `(A B)*` — the
    * reference's `GroupPattern` inherits `optional()`): the body
    * binds all-or-nothing. An un-entered group is drifted past when
    * a later step's event arrives, and an event that matches the
    * body's first step both ENTERS the group and (as a branch) is
    * offered to the steps after the group — so `(A B)? C` over one
    * C-matching-A corner still finds the group-skipped match.
    *
    * Iteration-to-iteration contiguity is relaxed (followedBy), the
    * reference's group-loop default; `consecutive` makes it STRICT
    * (the reference's inherited `consecutive()`): an event after a
    * completed iteration that does not start the next one closes the
    * loop (the reluctant exit branch carries the continuation). */
  case class Group(start: Int, end: Int, min: Int, max: Int,
                   consecutive: Boolean = false)

  case class Pattern[T](steps: Vector[Step[T]], withinUs: Long = Long.MaxValue,
                        groups: Vector[Group] = Vector.empty,
                        lastIsGroup: Boolean = false) {
    def followedBy(name: String)(pred: (T, Map[String, Vector[T]]) => Boolean): Pattern[T] =
      copy(steps = steps :+ Step(name, pred), lastIsGroup = false)
    /** Strict contiguity (Pattern.java:475): the event immediately
      * after the previous step's binding must match this step, or the
      * partial match is discarded. */
    def next(name: String)(pred: (T, Map[String, Vector[T]]) => Boolean): Pattern[T] =
      copy(steps = steps :+ Step(name, pred, strict = true), lastIsGroup = false)
    /** Strict negation (Pattern.java:205): the partial dies if the
      * event immediately after the previous binding matches `pred`;
      * otherwise the guard is passed permanently (and that same event
      * may bind the following step). Binds nothing. */
    def notNext(name: String)(pred: (T, Map[String, Vector[T]]) => Boolean): Pattern[T] =
      copy(steps = steps :+ Step(name, pred, strict = true, negated = true),
        lastIsGroup = false)
    /** Relaxed negation (Pattern.java:177): the partial dies if ANY
      * event matching `pred` arrives between the previous step's
      * binding and the following step's binding (checked before the
      * following step on the same event). Binds nothing; cannot end a
      * pattern (Pattern.java:190 — a NOT pattern needs a successor). */
    def notFollowedBy(name: String)(pred: (T, Map[String, Vector[T]]) => Boolean): Pattern[T] =
      copy(steps = steps :+ Step(name, pred, negated = true), lastIsGroup = false)
    def optional: Pattern[T] =
      // on a group: the reference's GroupPattern.optional() — the
      // whole body becomes all-or-nothing (min drops to 0)
      if (lastIsGroup) {
        val g = groups.last
        copy(groups = groups.init :+ g.copy(min = 0), lastIsGroup = true)
      } else copy(steps = steps.init :+ steps.last.copy(optional = true))
    def oneOrMore: Pattern[T] =
      if (lastIsGroup) quantifyGroup(1, Int.MaxValue)
      else copy(steps = steps.init :+ steps.last.copy(oneOrMore = true))
    /** Zero-or-more (Pattern.java:352 `oneOrMore()` + :333 `optional()`
      * — the reference composes SQL `*` exactly this way,
      * `CepOperator`'s translation of the Kleene star): an optional
      * loop. Zero occurrences ride the optional drift path (the step
      * may stay unbound), 1+ occurrences behave as `oneOrMore`;
      * `greedy`/`consecutive`/`until` compose as with `oneOrMore`. */
    def zeroOrMore: Pattern[T] =
      if (lastIsGroup) quantifyGroup(0, Int.MaxValue)
      else copy(steps = steps.init :+ steps.last.copy(optional = true, oneOrMore = true))
    /** Strict contiguity INSIDE a looping last step
      * (Pattern.java:498 `consecutive()`): the loop stops accumulating
      * at the first non-matching event — the partial survives and
      * later steps proceed relaxed, but no further loop occurrences
      * are taken. Without it a loop accumulates across gaps. */
    def consecutive: Pattern[T] = {
      if (lastIsGroup) {
        // the reference's inherited consecutive() on a group loop:
        // STRICT iteration-to-iteration adjacency
        val g = groups.last
        require(g.max > 1, "consecutive applies to a LOOPING group (oneOrMore / times)")
        copy(groups = groups.init :+ g.copy(consecutive = true),
          lastIsGroup = true)
      } else {
      require(steps.last.oneOrMore || steps.last.times > 1,
        "consecutive applies to a quantified step (oneOrMore / times)")
      copy(steps = steps.init :+ steps.last.copy(loopConsecutive = true))
      }
    }
    /** Exactly n occurrences of the last step (Pattern.java:382). */
    def times(n: Int): Pattern[T] = {
      require(n >= 1, "times(n) needs n >= 1")
      if (lastIsGroup) quantifyGroup(n, n)
      else copy(steps = steps.init :+ steps.last.copy(times = n))
    }
    /** Between m and n occurrences of the last step
      * (Pattern.java:396 `times(from, to)`): satisfied after m, may
      * keep accumulating up to n under relaxed contiguity. */
    def times(m: Int, n: Int): Pattern[T] = {
      require(m >= 1 && n >= m, "times(m,n) needs 1 <= m <= n")
      if (lastIsGroup) quantifyGroup(m, n)
      else copy(steps = steps.init :+ steps.last.copy(times = m, timesMax = n))
    }
    /** At least n occurrences (Pattern.java:430 `timesOrMore`): an
      * unbounded loop with a raised minimum — reluctant like every
      * loop (prefixes from n up), `greedy` applies as usual. */
    def timesOrMore(n: Int): Pattern[T] = {
      require(n >= 1, "timesOrMore(n) needs n >= 1")
      if (lastIsGroup) quantifyGroup(n, Int.MaxValue)
      else copy(steps = steps.init :+ steps.last.copy(times = n, oneOrMore = true))
    }
    /** Greedy quantifier (Pattern.java:520 `greedy()`): the loop
      * emits only its longest form — no "loop stops here" branch per
      * occurrence. The DEFAULT is the reference's reluctant mode:
      * every occurrence at-or-past the minimum also spawns a branch
      * that stops the loop, so A+ B over A A B yields the prefix
      * matches {A1}B and {A1 A2}B (plus {A2}B from the later start),
      * exactly as the reference NFA. */
    def greedy: Pattern[T] = {
      // REFERENCE PARITY: Flink's Pattern.greedy() calls
      // checkIfNoGroupPattern() (Pattern.java:369) — "you cannot yet
      // make group patterns greedy" (docs/dev/libs/cep.md:166)
      require(!lastIsGroup, "greedy group loops are not supported (the reference rejects them too: Pattern.greedy checkIfNoGroupPattern)")
      require(steps.last.oneOrMore || steps.last.timesMax > steps.last.times,
        "greedy applies to a loop that can vary in length")
      copy(steps = steps.init :+ steps.last.copy(greedy = true))
    }
    /** Stop condition for a oneOrMore last step (Pattern.java:220):
      * once an event satisfies `pred`, the loop stops accumulating
      * (the event itself is not consumed by the loop and may match a
      * later step). */
    def until(pred: (T, Map[String, Vector[T]]) => Boolean): Pattern[T] = {
      require(!lastIsGroup, "until applies to a oneOrMore step, not a group")
      copy(steps = steps.init :+ steps.last.copy(untilPred = Some(pred)))
    }
    def within(us: Long): Pattern[T] = copy(withinUs = us)
    /** Relaxed-contiguity alternation (`(B|C)` after the previous
      * step) — see [[Step.alts]]. */
    def followedByAny(alts: (String, (T, Map[String, Vector[T]]) => Boolean)*): Pattern[T] =
      copy(steps = steps :+ Pattern.altStep(alts.toVector), lastIsGroup = false)
    /** Strict-contiguity alternation (`next` into `(B|C)`). */
    def nextAny(alts: (String, (T, Map[String, Vector[T]]) => Boolean)*): Pattern[T] =
      copy(steps = steps :+ Pattern.altStep(alts.toVector).copy(strict = true),
        lastIsGroup = false)
    /** Append a CONCATENATION group `(A B …)` (reference
      * `GroupPattern.java:30`, `Pattern.followedBy(Pattern)`): the
      * body's steps inline into this pattern as one [[Group]] unit
      * that the NEXT quantifier call (`times`/`oneOrMore`/
      * `timesOrMore`) applies to as a whole — `(A B).times(2)`
      * matches A…B…A…B with every occurrence accumulated under its
      * own step name. Body steps of a quantified group must be
      * unquantified, non-negated, and the body cannot begin with a
      * strict step (validated at [[advance]]). */
    def followedByGroup(body: Pattern[T]): Pattern[T] = {
      require(body.steps.nonEmpty, "empty group body")
      require(body.withinUs == Long.MaxValue,
        "a group body cannot carry its own within(); bound the whole pattern")
      require(body.groups.isEmpty, "nested groups are not supported")
      val start = steps.size
      copy(steps = steps ++ body.steps,
        groups = groups :+ Group(start, start + body.steps.size - 1, 1, 1),
        lastIsGroup = true)
    }
    private[streaming] def quantifyGroup(min: Int, max: Int): Pattern[T] = {
      // the group stays "the last construct" so optional/consecutive
      // may still compose onto it ((A B).oneOrMore.consecutive —
      // the reference builder's call order)
      val g = groups.last
      copy(groups = groups.init :+ g.copy(min = min, max = max),
        lastIsGroup = true)
    }
  }

  object Pattern {
    def begin[T](name: String)(pred: (T, Map[String, Vector[T]]) => Boolean): Pattern[T] =
      Pattern(Vector(Step(name, pred)))
    /** Pattern starting with a concatenation group — the reference's
      * `Pattern.begin(Pattern)` (`GroupPattern.java:30`). Quantify it
      * with the next `times`/`oneOrMore` call. */
    def beginGroup[T](body: Pattern[T]): Pattern[T] = {
      require(body.steps.nonEmpty, "empty group body")
      require(body.withinUs == Long.MaxValue,
        "a group body cannot carry its own within(); bound the whole pattern")
      require(body.groups.isEmpty, "nested groups are not supported")
      Pattern(body.steps,
        groups = Vector(Group(0, body.steps.size - 1, 1, 1)),
        lastIsGroup = true)
    }
    /** Pattern starting with an alternation step — see [[Step.alts]]. */
    def beginAny[T](alts: (String, (T, Map[String, Vector[T]]) => Boolean)*): Pattern[T] =
      Pattern(Vector(altStep(alts.toVector)))
    private[streaming] def altStep[T](
        alts: Vector[(String, (T, Map[String, Vector[T]]) => Boolean)]): Step[T] = {
      require(alts.size >= 2, "an alternation needs at least two alternatives")
      require(alts.map(_._1).distinct.size == alts.size,
        "alternation alternatives must have distinct names")
      Step(alts.map(_._1).mkString("|"),
        (e, b) => alts.exists(_._2(e, b)), alts = alts)
    }
  }

  /** `closedLoops` = indices of oneOrMore steps shut by their `until`
    * condition (no further accumulation allowed). `bindTs` mirrors
    * `bindings` with each bound event's timestamp. `startSeq` /
    * `bindSeq` carry a monotonic per-event sequence number — the
    * pattern-relative skip strategies (SkipToFirst/SkipToLast/
    * SkipToNext) prune by EVENT IDENTITY, as the reference's
    * SkipToElementStrategy does (`start < pruningId`): two distinct
    * events sharing a timestamp must still prune correctly, which a
    * timestamp compare cannot express. */
  case class PartialMatch[T](stepIdx: Int, startUs: Long,
                             bindings: Map[String, Vector[T]],
                             closedLoops: Set[Int] = Set.empty,
                             bindTs: Map[String, Vector[Long]] = Map.empty,
                             startSeq: Long = 0L,
                             bindSeq: Map[String, Vector[Long]] = Map.empty,
                             groupReps: Map[Int, Int] = Map.empty)

  /** Sequence base for the NEXT advance() call over the same key:
    * strictly above every sequence number recorded in the surviving
    * partials, so cross-batch (streaming) seq assignment stays
    * monotonic with event order. */
  def nextSeqBase[T](partials: List[PartialMatch[T]]): Long =
    partials.foldLeft(0L) { (acc, p) =>
      acc max (p.startSeq + 1) max
        (p.bindSeq.values.flatten.foldLeft(0L)(_ max _) + 1)
    }

  /** Run the NFA over one key's events (must be fed in event-time
    * order). Returns (completed matches, surviving partials, timed-out
    * partials — the ones dropped by `within`, Flink's timed-out side
    * output).
    *
    * Skip-till-next-match: a partial ignores non-matching events and
    * takes the first matching one. Branching happens only where
    * strictness demands it: binds that leave a strict head reachable
    * arm an explicit branch there (see the object doc). A final
    * `oneOrMore` step emits on its first occurrence (non-greedy); a
    * non-final one accumulates until a later step matches. */
  def advance[T](pattern: Pattern[T], partials: List[PartialMatch[T]],
                 events: Iterator[(Long, T)],
                 skip: AfterMatchSkip = NoSkip,
                 seqBase: Long = 0L,
                 collectTimeouts: Boolean = true,
                 guard: CepGuard = CepGuard())
      : (List[Map[String, Vector[T]]], List[PartialMatch[T]], List[PartialMatch[T]]) = {
    // Negation guards bind nothing, so they cannot start or end a
    // pattern and cannot carry quantifiers (Pattern.java:190 — a NOT
    // pattern must be followed by a positive one; quantified/optional
    // NOT patterns are rejected by Flink's Pattern builder too).
    require(!pattern.steps.head.negated, "pattern cannot begin with a negation")
    require(!pattern.steps.last.negated,
      "pattern cannot end with notNext/notFollowedBy (Pattern.java:190)")
    pattern.steps.zipWithIndex.foreach { case (st, i) =>
      require(st.alts.isEmpty || !st.negated,
        s"alternation step '${st.name}' cannot be negated")
      if (st.negated) {
        require(!st.optional && !st.oneOrMore && st.times == 1 && st.untilPred.isEmpty,
          s"negated step '${st.name}' cannot be quantified")
        val nxt = pattern.steps(i + 1)
        require(!nxt.negated && !nxt.optional,
          s"negated step '${st.name}' must be followed by a non-optional positive step")
      }
    }
    // Quantified concatenation groups (GroupPattern.java:30): the body
    // is a plain concat — inner quantifiers/negation inside a REPEATED
    // body are rejected loudly (occurrence counts accumulate under the
    // body steps' names across iterations, so an inner loop would
    // conflate with the group loop). {1,1} groups are pure
    // concatenation and carry no restrictions.
    pattern.groups.zipWithIndex.foreach { case (g, gi) =>
      require(g.min >= 0 && g.max >= math.max(g.min, 1),
        "group quantifier needs 0 <= min <= max, max >= 1")
      require(!g.consecutive || g.max > 1,
        "consecutive applies to a LOOPING group")
      pattern.groups.drop(gi + 1).foreach { h =>
        require(g.end < h.start || h.end < g.start,
          "groups cannot nest or overlap") }
      if (g.min != 1 || g.max > 1) {
        (g.start to g.end).foreach { si =>
          val st = pattern.steps(si)
          require(!st.optional && !st.oneOrMore && st.times == 1 &&
                  st.timesMax == 0 && st.untilPred.isEmpty,
            s"step '${st.name}' inside a quantified group cannot carry its own quantifier")
          require(!st.negated,
            s"negated step '${st.name}' inside a quantified group is not supported")
        }
        require(!pattern.steps(g.start).strict,
          "a quantified group body cannot begin with a strict step")
      }
    }
    // group-END step index -> group index, for actually-looping groups;
    // group-START index for optional/looping groups (entry fork, drift,
    // consecutive loop-back); full membership for the completion test
    val groupEndOf = Array.fill(pattern.steps.size)(-1)
    val groupStartOf = Array.fill(pattern.steps.size)(-1)
    val grpOf = Array.fill(pattern.steps.size)(-1)
    pattern.groups.zipWithIndex.foreach { case (g, gi) =>
      if (g.min > 1 || g.max > 1) groupEndOf(g.end) = gi
      if (g.min == 0 || g.max > 1) groupStartOf(g.start) = gi
      (g.start to g.end).foreach(j => grpOf(j) = gi)
    }
    var open = partials
    var dropped = 0
    val out = List.newBuilder[Map[String, Vector[T]]]
    val timedOut = List.newBuilder[PartialMatch[T]]
    // allOptionalFrom(i): every step at index >= i is optional — the
    // completion test. Precomputed once; the inner loop previously
    // re-derived it per (event × partial), an O(pattern length) scan in
    // the hot path (the round-1 "quadratic advance" note).
    val allOptionalFrom = Array.tabulate(pattern.steps.size + 1)(j =>
      pattern.steps.zipWithIndex.drop(j).forall { case (st, k) =>
        st.optional ||
          (grpOf(k) >= 0 && pattern.groups(grpOf(k)).min == 0 &&
           pattern.groups(grpOf(k)).start >= j)
      })
    // Monotonic per-event sequence (the reference NFA's event id):
    // skip strategies prune by it, so timestamp ties resolve exactly
    // as SkipToElementStrategy's `start < pruningId` does.
    var seq = seqBase - 1L
    events.foreach { case (tsUs, e) =>
      seq += 1L
      // `open` is ordered by startUs (partials are only ever appended in
      // event order), so the expired set is a prefix: span stops at the
      // first survivor instead of scanning every partial per event.
      val (expired, alive) = open.span(p => tsUs - p.startUs > pattern.withinUs)
      // collectTimeouts=false keeps a long-running pass O(open
      // partials): a hot key under a short `within` expires one
      // partial per start event, and a caller that never reads the
      // timed-out channel must not pay O(events) to carry them.
      if (collectTimeouts) timedOut ++= expired
      open = alive
      val next = List.newBuilder[PartialMatch[T]]
      var completed = false
      var completedStarts = Set.empty[Long]
      // SkipToFirst/SkipToLast boundary: max over this event's matches
      var pruneSeq = Long.MinValue
      // Advance one partial by this event: bind it, skip past
      // satisfied/optional steps, or keep it waiting. `committed` is
      // where the partial is retained if this event binds nothing —
      // it moves past a strict negation guard once passed (the guard
      // applies to exactly one event), but NOT past optional/loop
      // skips (a later event may still bind those).
      def step(p: PartialMatch[T], retain: Boolean): Unit = {
        var i = p.stepIdx
        var committed = p.stepIdx
        var closed = p.closedLoops
        var skippedOpt = false // advanced past an optional/satisfied-loop step
        // whether anything skipped this event can still bind later —
        // if not, a retained partial would be a zombie (see strict
        // skip-arrival below, where it dies instead)
        var rebindable = false
        // Arm explicit branches at strict heads reachable from `from`
        // by skipping optional steps: the "loop ended here" / "the
        // optional stays unbound" alternatives must OBSERVE the
        // immediately-next event, which the single drifting partial
        // cannot. `includeFrom` = the `from` position itself needs a
        // branch (loop end; for a plain bind the partial lands there
        // naturally). Scan stops at the first non-optional step — a
        // strict guard or bindable step beyond it is not reachable by
        // skips until that step resolves.
        def armStrict(from: Int, bound: Map[String, Vector[T]],
                      cls: Set[Int], boundTs: Map[String, Vector[Long]],
                      boundSeq: Map[String, Vector[Long]],
                      reps: Map[Int, Int],
                      includeFrom: Boolean): Unit = {
          var j = from
          var go = true
          while (go && j < pattern.steps.size) {
            val sj = pattern.steps(j)
            if (sj.strict && (includeFrom || j > from))
              next += PartialMatch(j, p.startUs, bound, cls, boundTs,
                p.startSeq, boundSeq, reps)
            go = sj.optional
            j += 1
          }
        }
        while (i < pattern.steps.size) {
          val st = pattern.steps(i)
          if (st.negated) {
            if (st.strict && skippedOpt) {
              // a strict one-event guard reached by drifting on a later
              // event: its window already passed (the armed branch saw
              // it) — hold position, never re-evaluate the guard
              if (retain && rebindable)
                next += PartialMatch(committed, p.startUs, p.bindings, closed,
                  p.bindTs, p.startSeq, p.bindSeq, p.groupReps)
              return
            }
            if (st.pred(e, p.bindings)) return // guard violated: partial dies
            i += 1
            if (st.strict) committed = i // notNext: passed for good
            // notFollowedBy: committed stays — the guard re-arms until
            // the following step binds; this event may bind it below.
          } else if (st.strict && skippedOpt && !st.optional) {
            // strict heads never bind via drift (relaxed would leak in);
            // the branch armed at bind time handles the legal case
            if (retain && rebindable)
              next += PartialMatch(committed, p.startUs, p.bindings, closed,
                p.bindTs, p.startSeq, p.bindSeq, p.groupReps)
            return
          } else if (st.strict && skippedOpt && st.optional) {
            // an optional strict step reached by drift: can't bind (its
            // armed branch owns the immediate-successor case) but CAN
            // stay unbound — step over it; not rebindable by this
            // partial (drifting can never bind a strict step)
            i += 1
          } else if (groupStartOf(i) >= 0 &&
                     pattern.groups(groupStartOf(i)).min == 0 &&
                     !p.groupReps.contains(groupStartOf(i)) &&
                     !(if (st.alts.isEmpty) st.pred(e, p.bindings)
                       else st.alts.exists(_._2(e, p.bindings)))) {
            // un-entered OPTIONAL group whose head does not match this
            // event: drift past the WHOLE body (all-or-nothing — no
            // body step may bind while the group is skipped; a later
            // event may still enter it from the retained partial)
            rebindable = true
            skippedOpt = true
            i = pattern.groups(groupStartOf(i)).end + 1
          } else {
          // entering an OPTIONAL group (its head matched — the drift
          // branch above would have caught a miss): fork a branch that
          // offers the SAME event to the steps after the body with the
          // group left unbound, so `(A B)? C` still finds the
          // group-skipped match when one event satisfies both A and C.
          // retain=false — the branch materializes only if it binds.
          if (groupStartOf(i) >= 0 &&
              pattern.groups(groupStartOf(i)).min == 0 &&
              !p.groupReps.contains(groupStartOf(i)))
            step(PartialMatch(pattern.groups(groupStartOf(i)).end + 1,
              p.startUs, p.bindings, closed, p.bindTs, p.startSeq,
              p.bindSeq, p.groupReps), retain = false)
          // occurrence count: an alternation step counts across its
          // alternatives' names ((B|C)+ is ONE loop, mixed bindings)
          val cnt =
            if (st.alts.isEmpty) p.bindings.getOrElse(st.name, Vector.empty).size
            else st.alts.iterator.map(a =>
              p.bindings.getOrElse(a._1, Vector.empty).size).sum
          if (st.oneOrMore && !closed(i) && st.untilPred.exists(_(e, p.bindings))) {
            if (cnt == 0) return // loop can never be satisfied: drop partial
            // reluctant loop: the stopped-loop branches spawned at each
            // bind own every continuation (including this very event,
            // which they are offered independently) — the loop-resident
            // partial's only job was extending, so it dies here. A
            // greedy loop has no branches and proceeds itself.
            if (!st.greedy) return
            closed += i // stop accumulating; event may match a later step
            i += 1
          } else if (!closed(i) &&
                     !(st.timesMax > st.times && cnt >= st.timesMax) &&
                     (if (st.alts.isEmpty) st.pred(e, p.bindings)
                      else st.alts.exists(_._2(e, p.bindings)))) {
            // alternation: bind under the FIRST matching alternative's
            // name (leftmost preference, Step.alts doc)
            val bindName =
              if (st.alts.isEmpty) st.name
              else st.alts.find(_._2(e, p.bindings)).get._1
            val bound = p.bindings.updated(bindName,
              p.bindings.getOrElse(bindName, Vector.empty) :+ e)
            val boundTs = p.bindTs.updated(bindName,
              p.bindTs.getOrElse(bindName, Vector.empty) :+ tsUs)
            val boundSeq = p.bindSeq.updated(bindName,
              p.bindSeq.getOrElse(bindName, Vector.empty) :+ seq)
            val newCnt = cnt + 1
            if (newCnt < st.times) { // times(n)/times(m,_): need more
              next += PartialMatch(i, p.startUs, bound, closed, boundTs,
                p.startSeq, boundSeq, p.groupReps)
            } else if (groupEndOf(i) >= 0) {
              // this bind completes one ITERATION of a quantified
              // concat group (GroupPattern loop). Below min the
              // partial MUST loop back to the body start; in
              // [min, max) it both loops back AND exits (reluctant,
              // like step loops — (A B)+ C over A B A B C yields the
              // 1- and 2-iteration matches); at max it exits only.
              // Iteration contiguity is relaxed (reference default).
              val g = pattern.groups(groupEndOf(i))
              val reps = p.groupReps.getOrElse(groupEndOf(i), 0) + 1
              val repsMap = p.groupReps.updated(groupEndOf(i), reps)
              if (reps < g.max)
                next += PartialMatch(g.start, p.startUs, bound, closed,
                  boundTs, p.startSeq, boundSeq, repsMap)
              if (reps >= g.min) {
                val nextIdx = i + 1
                if (allOptionalFrom(nextIdx)) {
                  out += bound
                  completed = true
                  completedStarts += p.startSeq
                  skip match {
                    case SkipToFirst(n) =>
                      boundSeq.get(n).foreach(s => pruneSeq = pruneSeq max s.head)
                    case SkipToLast(n) =>
                      boundSeq.get(n).foreach(s => pruneSeq = pruneSeq max s.last)
                    case _ => ()
                  }
                } else {
                  next += PartialMatch(nextIdx, p.startUs, bound, closed,
                    boundTs, p.startSeq, boundSeq, repsMap)
                  armStrict(nextIdx, bound, closed, boundTs, boundSeq,
                    repsMap, includeFrom = false)
                }
              }
            } else {
              // looping steps stay at i to accumulate: oneOrMore
              // unbounded, times(m,n) until n occurrences
              val looping = st.oneOrMore || newCnt < st.timesMax
              val nextIdx = i + 1
              if (allOptionalFrom(nextIdx)) { // consumed on first completion
                out += bound
                completed = true
                completedStarts += p.startSeq
                // pattern-relative skip boundary: the first/last EVENT
                // (by sequence) the match bound to the strategy's named
                // step — the reference's pruningId
                skip match {
                  case SkipToFirst(n) =>
                    boundSeq.get(n).foreach(s => pruneSeq = pruneSeq max s.head)
                  case SkipToLast(n) =>
                    boundSeq.get(n).foreach(s => pruneSeq = pruneSeq max s.last)
                  case _ => ()
                }
              } else if (looping) {
                next += PartialMatch(i, p.startUs, bound, closed, boundTs,
                  p.startSeq, boundSeq, p.groupReps)
                // the loop may also END at this occurrence. Reluctant
                // (default, as the reference): spawn the stopped-loop
                // branch so shorter loop forms can complete — A+ B
                // over A A B yields {A1}B as well as {A1 A2}B. Greedy
                // skips it UNLESS the head is strict (strictness needs
                // a positioned observer regardless of greed).
                if (!st.greedy || pattern.steps(nextIdx).strict)
                  next += PartialMatch(nextIdx, p.startUs, bound,
                    closed + i, boundTs, p.startSeq, boundSeq, p.groupReps)
                // strict heads hiding deeper behind skippable optionals
                armStrict(nextIdx, bound, closed + i, boundTs, boundSeq,
                  p.groupReps, includeFrom = false)
              } else {
                next += PartialMatch(nextIdx, p.startUs, bound, closed, boundTs,
                  p.startSeq, boundSeq, p.groupReps)
                // strict heads hiding behind skippable optionals (the
                // partial itself lands at nextIdx, which needs no arm)
                armStrict(nextIdx, bound, closed, boundTs, boundSeq,
                  p.groupReps, includeFrom = false)
              }
            }
            return
          } else if ((st.oneOrMore && cnt > 0) ||
                     (st.timesMax > st.times && cnt >= st.times)) {
            // a satisfied loop the event did not extend. Reluctant
            // (default): the stopped-loop branches own all
            // continuations — the loop-resident partial either keeps
            // waiting for more loop events (relaxed gap) or, if the
            // loop can never extend again (consecutive run broken,
            // or already closed), dies.
            if (!st.greedy) {
              if (st.loopConsecutive || closed(i)) return
              if (retain)
                next += PartialMatch(committed, p.startUs, p.bindings, closed,
                  p.bindTs, p.startSeq, p.bindSeq, p.groupReps)
              return
            }
            // greedy: no branches exist — the partial itself proceeds
            // past the loop (closing a consecutive run for good).
            if (st.loopConsecutive && cnt > 0 && !closed(i)) closed += i
            else if (!closed(i))
              rebindable = true // open loop may bind later
            i += 1 // skippable: looping step already satisfied
            skippedOpt = true
          } else if (st.optional) {
            // A strict optional step whose adjacency window IS this
            // event (positioned here, not drifting) and whose pred
            // failed can never bind again — commit past it so a
            // retained partial cannot bind it after a gap (strict
            // contiguity; the skip-to-successor cases were armed as
            // branches at the previous bind). Relaxed optionals may
            // bind later as usual. Known approximation: a chain of
            // 2+ CONSECUTIVE strict optionals can still retain
            // partials one level deeper whose windows are equally
            // dead (true SQL row-contiguity needs regex backtracking
            // there); single strict optionals — the practical SQL
            // shapes — are exact, see CepStarSpec.
            if (st.strict && !skippedOpt) committed = i + 1
            else rebindable = true // an optional step may bind later
            i += 1
            skippedOpt = true
          } else {
            // consecutive() mid-run below the minimum count: the run
            // is broken and can never reach times(m) — partial dies.
            if (st.loopConsecutive && cnt > 0) return
            // consecutive GROUP loop: the first event after a
            // completed iteration must start the next one, or the
            // loop closes for good — the reluctant exit branch
            // spawned at completion carries the continuation.
            if (groupStartOf(i) >= 0 &&
                pattern.groups(groupStartOf(i)).consecutive &&
                p.groupReps.getOrElse(groupStartOf(i), 0) > 0 &&
                !skippedOpt) return
            // Strict head not matched by the immediately-next event:
            // the partial dies (drift arrivals were already diverted
            // above, so reaching here positioned-and-strict is fatal).
            if (st.strict && !skippedOpt) return
            if (retain) // keep waiting
              next += PartialMatch(committed, p.startUs, p.bindings, closed,
                p.bindTs, p.startSeq, p.bindSeq, p.groupReps)
            return
          }
          }
        }
        if (retain)
          next += PartialMatch(committed, p.startUs, p.bindings, closed,
            p.bindTs, p.startSeq, p.bindSeq, p.groupReps)
      }
      // Partials run oldest-first, so the earliest match wins; the skip
      // strategy prunes later partials as soon as a match completes
      // (Flink prunes the partial-match set after each found match),
      // then once more for partials retained before the completion.
      def prunedBySkip(p: PartialMatch[T]): Boolean = skip match {
        case NoSkip => false
        case SkipPastLastEvent => completed && p.startUs <= tsUs
        case SkipToNext => completedStarts.contains(p.startSeq)
        case SkipToFirst(_) | SkipToLast(_) =>
          // strictly before the boundary EVENT: a partial starting AT
          // the named step's binding survives, and a partial started at
          // a DIFFERENT event with the same timestamp prunes correctly
          // (SkipToElementStrategy shouldPrune: start < pruningId)
          pruneSeq != Long.MinValue && p.startSeq < pruneSeq
      }
      open.foreach(p => if (!prunedBySkip(p)) step(p, retain = true))
      step(PartialMatch[T](0, tsUs, Map.empty, startSeq = seq), retain = false)
      open = next.result().filterNot(prunedBySkip)
      // hot-key safety valve: shed the NEWEST starts past the cap
      // (open is in start order, fresh starts append last) — in-flight
      // older partials keep running; see CepGuard
      if (open.size > guard.maxPartials) {
        dropped += open.size - guard.maxPartials
        open = open.take(guard.maxPartials)
      }
    }
    if (dropped > 0) {
      guard.onDrop(dropped)
      log.warn(s"CEP partial-match cap ${guard.maxPartials} hit: shed " +
        s"$dropped new pattern starts this pass (hot key / long loop " +
        "workload — results may miss matches; raise maxPartials or " +
        "tighten `within`)")
    }
    (out.result(), open, timedOut.result())
  }

  // ---- MEASURES (MATCH_RECOGNIZE's output clause) -------------------

  /** One declarative output column over a match's step bindings — the
    * MEASURES surface of SQL MATCH_RECOGNIZE (reference
    * `StreamExecMatch.scala:69` translates measure calls;
    * `FlinkSqlOperatorTable.java:944+` declares FIRST/LAST/...).
    * `eval` sees the full binding map and yields the column value;
    * `field` carries the output name + type for the emitted rows. */
  case class Measure[T](field: org.apache.spark.sql.types.StructField,
                        eval: Map[String, Vector[T]] => Any)

  /** Builders for the standard measure functions. A measure over an
    * unbound optional step yields NULL (nullable fields), matching
    * SQL MEASURES semantics. */
  object Measures {
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField}
    /** FIRST(step.field): the projection of the step's first bound
      * event. */
    def first[T](step: String, as: String, dt: DataType)(f: T => Any): Measure[T] =
      Measure(StructField(as, dt, nullable = true),
        m => m.get(step).flatMap(_.headOption).map(f).orNull)
    /** LAST(step.field): same over the last bound occurrence. */
    def last[T](step: String, as: String, dt: DataType)(f: T => Any): Measure[T] =
      Measure(StructField(as, dt, nullable = true),
        m => m.get(step).flatMap(_.lastOption).map(f).orNull)
    /** COUNT(step): occurrences bound to the step (0 if unbound). */
    def count[T](step: String, as: String): Measure[T] =
      Measure(StructField(as, LongType, nullable = false),
        m => m.getOrElse(step, Vector.empty).size.toLong)
    /** SUM(step.field) over an integral projection (0 if unbound). */
    def sumLong[T](step: String, as: String)(f: T => Long): Measure[T] =
      Measure(StructField(as, LongType, nullable = false),
        m => m.getOrElse(step, Vector.empty).map(f).sum)
    /** SUM(step.field) over a floating projection (0.0 if unbound). */
    def sumDouble[T](step: String, as: String)(f: T => Double): Measure[T] =
      Measure(StructField(as, DoubleType, nullable = false),
        m => m.getOrElse(step, Vector.empty).map(f).sum)
    /** AVG(step.field); NULL when the step is unbound. */
    def avg[T](step: String, as: String)(f: T => Double): Measure[T] =
      Measure(StructField(as, DoubleType, nullable = true),
        m => { val vs = m.getOrElse(step, Vector.empty)
               if (vs.isEmpty) null else vs.map(f).sum / vs.size })
    /** MAX/MIN(step.field); NULL when the step is unbound. */
    def maxLong[T](step: String, as: String)(f: T => Long): Measure[T] =
      Measure(StructField(as, LongType, nullable = true),
        m => { val vs = m.getOrElse(step, Vector.empty)
               if (vs.isEmpty) null else vs.map(f).max })
    def maxDouble[T](step: String, as: String)(f: T => Double): Measure[T] =
      Measure(StructField(as, DoubleType, nullable = true),
        m => { val vs = m.getOrElse(step, Vector.empty)
               if (vs.isEmpty) null else vs.map(f).max })
    def minLong[T](step: String, as: String)(f: T => Long): Measure[T] =
      Measure(StructField(as, LongType, nullable = true),
        m => { val vs = m.getOrElse(step, Vector.empty)
               if (vs.isEmpty) null else vs.map(f).min })
    def minDouble[T](step: String, as: String)(f: T => Double): Measure[T] =
      Measure(StructField(as, DoubleType, nullable = true),
        m => { val vs = m.getOrElse(step, Vector.empty)
               if (vs.isEmpty) null else vs.map(f).min })
  }

  /** Project matches through a MEASURES list into a DataFrame —
    * (key column, then one column per measure), the compiled form of
    * MATCH_RECOGNIZE's `MEASURES ... ONE ROW PER MATCH`. Replaces
    * hand-written per-query extraction lambdas. */
  def selectMeasures(matches: Dataset[(Long, Map[String, Vector[Event]])],
                     keyName: String, measures: Seq[Measure[Event]])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(
      StructField(keyName, LongType, nullable = false) +: measures.map(_.field))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    matches.map { case (k, m) => Row.fromSeq(k +: measures.map(_.eval(m))) }
  }

  case class FollowRow(user_id: Long, first_id: Long, second_id: Long, delta_us: Long)

  /** The common 2-step pattern as a typed operator: for each
    * `firstType` event, its earliest strictly-later `secondType` event
    * within `withinUs` (CEP semantics of the compiled 2-step NFA; also
    * the MATCH_RECOGNIZE `A B` shape). */
  def firstFollowedBy(events: Dataset[Event], firstType: String,
                      secondType: String, withinUs: Long): Dataset[FollowRow] = {
    import events.sparkSession.implicits._
    val pat = Pattern.begin[Event]("a")((e, _) => e.event_type == firstType)
      .followedBy("b") { (e, bound) =>
        e.event_type == secondType &&
          Event.micros(e.ts) > Event.micros(bound("a").head.ts)
      }
      .within(withinUs)
    matchBatchSorted(
      events.filter(e => e.event_type == firstType || e.event_type == secondType),
      pat)
      .map { case (user, m) =>
        val a = m("a").head; val b = m("b").head
        FollowRow(user, a.event_id, b.event_id,
          Event.micros(b.ts) - Event.micros(a.ts))
      }
  }

  /** Batch CEP over a keyed Dataset of events (event-time sorted per
    * key inside). NOTE: flatMapGroups hands each key's rows unsorted,
    * so this materializes the key's FULL history to sort it — fine for
    * moderate keys, unbounded on hot ones. [[matchBatchSorted]] is the
    * scale-safe form; this stays for arbitrary key types. */
  def matchBatch[K](events: Dataset[Event], keyOf: Event => K,
                    pattern: Pattern[Event], skip: AfterMatchSkip = NoSkip)(
      implicit ke: Encoder[K], oe: Encoder[(K, Map[String, Vector[Event]])])
      : Dataset[(K, Map[String, Vector[Event]])] = {
    import events.sparkSession.implicits._
    events.groupByKey(keyOf).flatMapGroups { (k: K, rows: Iterator[Event]) =>
      val sorted = rows.toList.sortBy(e => (Event.micros(e.ts), e.event_id))
        .map(e => (Event.micros(e.ts), e))
      advance(pattern, Nil, sorted.iterator, skip)._1.map(m => (k, m)).iterator
    }
  }

  /** Batch CEP with BOUNDED per-key memory — the sort-based grouping
    * form of [[matchBatch]] (the `SortedGroups` one-pass shape): one
    * shuffle on user_id, a partition-local sort on (user_id, ts,
    * event_id) through Spark's external sorter (spills like the
    * reference's UnilateralSortMerger), then ONE streaming pass
    * feeding each key-contiguous run into the NFA event by event.
    * Nothing buffers a key's history: resident state during the pass
    * is the NFA's own open partials, pruned by `within` — the
    * reference NFA's buffer bound (NFA.java:85 + shared-buffer
    * pruning). A hot key with 10⁶ events under a short `within`
    * horizon runs in O(open partials), where flatMapGroups would hold
    * all 10⁶ rows to sort them. */
  def matchBatchSorted(events: Dataset[Event], pattern: Pattern[Event],
                       skip: AfterMatchSkip = NoSkip)
      : Dataset[(Long, Map[String, Vector[Event]])] = {
    import org.apache.spark.sql.functions.col
    implicit val outEnc: Encoder[(Long, Map[String, Vector[Event]])] =
      Encoders.kryo[(Long, Map[String, Vector[Event]])]
    events.repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Map[String, Vector[Event]])] {
          private var pending: Iterator[(Long, Map[String, Vector[Event]])] =
            Iterator.empty
          def hasNext: Boolean = {
            while (!pending.hasNext && buf.hasNext) {
              val user = buf.head.user_id
              // lazy view of this key's run — advance() pulls events
              // one at a time straight off the sorted partition
              val run: Iterator[(Long, Event)] = new Iterator[(Long, Event)] {
                def hasNext: Boolean = buf.hasNext && buf.head.user_id == user
                def next(): (Long, Event) = {
                  val e = buf.next(); (Event.micros(e.ts), e)
                }
              }
              val done = advance(pattern, Nil, run, skip,
                collectTimeouts = false)._1
              pending = done.map(m => (user, m)).iterator
            }
            pending.hasNext
          }
          def next(): (Long, Map[String, Vector[Event]]) = {
            if (!hasNext) throw new NoSuchElementException("empty partition run")
            pending.next()
          }
        }
      }
  }

  /** Streaming CEP: partials persist in keyed state across batches
    * (in-order delivery within the watermark assumed; see
    * EventTimeOps.matchStreamBuffered for the out-of-order-safe form).
    * `guard` bounds per-key state on hot keys; shed starts are
    * surfaced through the `graft.cep.shed_starts` accumulator (visible
    * in the Spark UI / REST metrics) on top of the guard's own
    * callback — a saturated key degrades loudly, never silently. */
  def matchStream(events: Dataset[Event], pattern: Pattern[Event],
                  skip: AfterMatchSkip = NoSkip,
                  guard: CepGuard = CepGuard())
      : Dataset[(Long, Map[String, Vector[Event]])] = {
    val shedAcc = events.sparkSession.sparkContext
      .longAccumulator("graft.cep.shed_starts")
    val userDrop = guard.onDrop
    val metered = guard.copy(onDrop = n => { shedAcc.add(n); userDrop(n) })
    implicit val outEnc: Encoder[(Long, Map[String, Vector[Event]])] =
      Encoders.kryo[(Long, Map[String, Vector[Event]])]
    runStream(events, pattern, skip, metered) { (user, done, _) =>
      done.map(m => (user, m)).iterator
    }
  }

  /** Streaming CEP with the timed-out side channel (Flink emits
    * timed-out partial matches through a side output,
    * `PatternStream.select` with a timeout tag; SURVEY §7.3 maps side
    * outputs to one tagged stream split by two filtered sinks).
    * Emits (user, bindings, isTimeout): isTimeout=false rows are
    * completed matches, isTimeout=true rows are partials dropped by
    * `within` — filter each into its own sink. */
  def matchStreamWithTimeouts(events: Dataset[Event], pattern: Pattern[Event],
                              skip: AfterMatchSkip = NoSkip)
      : Dataset[(Long, Map[String, Vector[Event]], Boolean)] = {
    implicit val outEnc: Encoder[(Long, Map[String, Vector[Event]], Boolean)] =
      Encoders.kryo[(Long, Map[String, Vector[Event]], Boolean)]
    runStream(events, pattern, skip, CepGuard()) { (user, done, expired) =>
      (done.map(m => (user, m, false)) ++
        expired.map(p => (user, p.bindings, true))).iterator
    }
  }

  /** The one stream runner: per user, the batch's events in event-time
    * order advance the partials kept in state; `emit` turns the key's
    * completed matches and expired partials into output rows. */
  private def runStream[O: Encoder](events: Dataset[Event], pattern: Pattern[Event],
      skip: AfterMatchSkip, guard: CepGuard)(
      emit: (Long, List[Map[String, Vector[Event]]], List[PartialMatch[Event]]) => Iterator[O])
      : Dataset[O] =
    StatefulOps.perUser[List[PartialMatch[Event]], O](events) { (user, prev, rows) =>
      val partials = prev.getOrElse(Nil)
      val (done, open, expired) =
        advance(pattern, partials, rows.iterator.map(e => (Event.micros(e.ts), e)), skip,
          nextSeqBase(partials), guard = guard)
      (emit(user, done, expired), open)
    }
}
