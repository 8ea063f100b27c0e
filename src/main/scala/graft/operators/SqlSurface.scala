package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SQL-string surface plus relational-algebra completions the reference
  * lacks entirely (SURVEY §2.7): set operations, CUBE grouping sets, scalar
  * date/string/math functions, and explicit top-k. Everything compiles to
  * the same Catalyst plans as the DataFrame entries — `spark.sql` is just
  * another frontend — so pushdown/pruning/codegen behavior is identical.
  */
object SqlSurface {

  /** One raised-recursion-limit clone per parent session, reused across
    * invocations — sql2 previously minted a fresh newSession() per run,
    * and a long-lived caller (Bench's warmup + timed reps, a notebook
    * re-running the query) accumulated a session per call, each with its
    * own catalog/listener state the parent keeps reachable. The clone
    * still isolates the conf raise (the i2/s2 discipline): the parent's
    * runaway-recursion fuse stays armed.
    *
    * WEAKLY keyed on the parent: a strong map would retain every parent
    * session (and its catalog/listener state) for the process lifetime —
    * a long-lived driver that creates and stops sessions over time could
    * never collect them. WeakHashMap drops the entry once the parent is
    * unreachable; stopped-but-still-referenced parents are additionally
    * evicted eagerly on access. */
  private val recursionSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private[graft] def recursionSession(s: SparkSession): SparkSession =
    recursionSessions.synchronized {
      recursionSessions.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
      Option(recursionSessions.get(s)).getOrElse {
        val sq = s.newSession()
        sq.conf.set("spark.sql.cteRecursionRowLimit", (100 * 1000 * 1000).toString)
        recursionSessions.put(s, sq)
        sq
      }
    }

  /** Minimal SQL frontend over [[TxLog]] tables — the bridge between the
    * engine's SQL surface and its transactional tier. The statement
    * shapes (the Delta SQL core, reduced):
    *
    *   SELECT ... FROM txlog.`<root>` [VERSION AS OF <n> | TIMESTAMP AS OF <epochMs>] ...
    *   CREATE [OR REPLACE] TABLE txlog.`<root>` [PARTITIONED BY (<col>[, ...])] AS <select>
    *   INSERT INTO txlog.`<root>` <select>
    *   INSERT OVERWRITE txlog.`<root>` <select>
    *   DELETE FROM txlog.`<root>` WHERE <predicate>
    *   UPDATE txlog.`<root>` SET col = <expr>[, ...] WHERE <predicate>
    *   MERGE [WITH SCHEMA EVOLUTION] INTO txlog.`<root>` USING (<select>) [alias] ON <keyColumn> [AND <targetScope>]
    *     [WHEN MATCHED [AND <cond>] THEN {UPDATE SET * | UPDATE SET c = <expr>[, ...] | DELETE}]...
    *     [WHEN NOT MATCHED [AND <cond>] THEN {INSERT * | INSERT (c[, ...]) VALUES (<expr>[, ...])}]...
    *     [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN {UPDATE SET c = <expr>[, ...] | DELETE}]...
    *   OPTIMIZE txlog.`<root>` [TARGET <n>] [ZORDER BY (<col>[, ...]) [INCREMENTAL]]
    *   VACUUM txlog.`<root>` [RETAIN <n> HOURS]
    *   RESTORE txlog.`<root>` TO {VERSION AS OF <n> | TIMESTAMP AS OF <epochMs>}
    *   DESCRIBE HISTORY txlog.`<root>`
    *   DESCRIBE DETAIL txlog.`<root>`
    *   DESCRIBE CHANGES txlog.`<root>` FROM <v> [TO <v>]
    *   DESCRIBE STATS txlog.`<root>`
    *   ANALYZE TABLE txlog.`<root>` COMPUTE STATISTICS [FOR COLUMNS <col>[, ...]]
    *   SHOW PARTITIONS txlog.`<root>`
    *   ALTER TABLE txlog.`<root>` SET TBLPROPERTIES ('k' = 'v'[, ...])
    *   ALTER TABLE txlog.`<root>` ADD CONSTRAINT <name> CHECK (<expr>)
    *   ALTER TABLE txlog.`<root>` DROP CONSTRAINT <name>
    *
    * SELECT statements are rewritten: each txlog reference pins the
    * requested version via [[TxLog.read]] (TIMESTAMP AS OF resolves
    * through the manifest's exact `t` commit headers, so it is portable
    * across copied/restored logs) and lands as a short-lived temp view;
    * the rewritten text then goes through `spark.sql` — the txlog
    * reference is the only non-standard syntax, everything else is Spark
    * SQL verbatim, same plans as the DataFrame path. DML routes to the
    * transactional copy-on-write primitives (DELETE/UPDATE keep SQL
    * NULL-predicate semantics; MERGE is the keyed last-write-wins upsert
    * — Delta's `WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *`
    * shorthand — whose USING subquery is itself TxSql, so it may time
    * travel into the same table) and returns the published version as a
    * one-row frame, the DML-result convention. OPTIMIZE/VACUUM route to
    * [[TxLog.compact]] (per-partition target on partitioned tables) and
    * the grace-windowed [[TxLog.vacuum]]. */
  object TxSql {
    private val Ref = ("(?i)txlog\\s*\\.\\s*`([^`]+)`" +
      "(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)|\\s+TIMESTAMP\\s+AS\\s+OF\\s+(\\d+))?").r
    private val Delete =
      "(?is)^\\s*DELETE\\s+FROM\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+WHERE\\s+(.+?)\\s*;?\\s*$".r
    // SET list and WHERE are split by a quote-aware scan (topKeyword), not
    // here: a lazy regex WHERE would bind to a WHERE inside a SET string
    // literal (`SET note = 'x WHERE y' WHERE id = 3`)
    private val Update =
      "(?is)^\\s*UPDATE\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+SET\\s+(.+?)\\s*;?\\s*$".r
    // MERGE head only — the USING subquery is extracted by a
    // balanced-paren scan (a regex would bind the close paren inside a
    // WHEN clause's parenthesized condition), WHEN clauses by the
    // quote/paren-aware keyword scanner below
    // `MERGE WITH SCHEMA EVOLUTION INTO` is the Delta SQL opt-in for
    // additive source columns evolving the target in the same commit
    private val MergeHead =
      ("(?is)^\\s*MERGE\\s+(WITH\\s+SCHEMA\\s+EVOLUTION\\s+)?INTO\\s+" +
        "txlog\\s*\\.\\s*`([^`]+)`\\s+USING\\s*\\(").r
    // ingest DDL/DML: the trailing <select> re-enters TxSql (it may
    // reference txlog tables, incl. version pins)
    private val InsertInto =
      "(?is)^\\s*INSERT\\s+INTO\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+(.+?)\\s*;?\\s*$".r
    private val InsertOver =
      "(?is)^\\s*INSERT\\s+OVERWRITE\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+(.+?)\\s*;?\\s*$".r
    private val CreateAs =
      ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+txlog\\s*\\.\\s*`([^`]+)`" +
        "(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]+)\\))?\\s+AS\\s+(.+?)\\s*;?\\s*$").r
    private val Optimize =
      ("(?is)^\\s*OPTIMIZE\\s+txlog\\s*\\.\\s*`([^`]+)`(?:\\s+TARGET\\s+(\\d+))?" +
        "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)(\\s+INCREMENTAL)?)?\\s*;?\\s*$").r
    private val Vacuum =
      "(?is)^\\s*VACUUM\\s+txlog\\s*\\.\\s*`([^`]+)`(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?\\s*;?\\s*$".r
    private val Restore =
      ("(?is)^\\s*RESTORE\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+TO\\s+" +
        "(?:VERSION\\s+AS\\s+OF\\s+(\\d+)|TIMESTAMP\\s+AS\\s+OF\\s+(\\d+))\\s*;?\\s*$").r
    private val History =
      "(?is)^\\s*DESCRIBE\\s+HISTORY\\s+txlog\\s*\\.\\s*`([^`]+)`\\s*;?\\s*$".r
    private val Changes =
      ("(?is)^\\s*DESCRIBE\\s+CHANGES\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+" +
        "FROM\\s+(\\d+)(?:\\s+TO\\s+(\\d+))?\\s*;?\\s*$").r
    private val Detail =
      "(?is)^\\s*DESCRIBE\\s+DETAIL\\s+txlog\\s*\\.\\s*`([^`]+)`\\s*;?\\s*$".r
    private val ShowParts =
      "(?is)^\\s*SHOW\\s+PARTITIONS\\s+txlog\\s*\\.\\s*`([^`]+)`\\s*;?\\s*$".r
    private val Analyze =
      ("(?is)^\\s*ANALYZE\\s+TABLE\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+COMPUTE\\s+" +
        "STATISTICS(?:\\s+FOR\\s+COLUMNS\\s+([A-Za-z0-9_,\\s]+))?\\s*;?\\s*$").r
    private val DescStats =
      "(?is)^\\s*DESCRIBE\\s+STATS\\s+txlog\\s*\\.\\s*`([^`]+)`\\s*;?\\s*$".r
    private val AlterProps =
      ("(?is)^\\s*ALTER\\s+TABLE\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+SET\\s+" +
        "TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*$").r
    private val AddConstraint =
      ("(?is)^\\s*ALTER\\s+TABLE\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+ADD\\s+" +
        "CONSTRAINT\\s+([A-Za-z0-9_-]+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$").r
    private val DropConstraint =
      ("(?is)^\\s*ALTER\\s+TABLE\\s+txlog\\s*\\.\\s*`([^`]+)`\\s+DROP\\s+" +
        "CONSTRAINT\\s+([A-Za-z0-9_-]+)\\s*;?\\s*$").r
    // one `'k' = 'v'` (or unquoted-key `k = 'v'`) property pair
    private val PropPair =
      "(?s)^\\s*(?:'([^']+)'|([A-Za-z0-9_]+))\\s*=\\s*'(.*)'\\s*$".r

    /** Character spans of string literals in `s`: '...' and "..." with
      * SQL doubled-quote escapes AND Spark's backslash escapes (Spark SQL
      * processes `\'` inside literals with ANSI mode off). Everything the
      * statement scanners do — splitting, keyword search, txlog-reference
      * rewriting — must be blind to text inside these spans, or a literal
      * like `'a,b'` / `'x WHERE y'` / `'see txlog.`t`'` skews the parse. */
    private def quotedSpans(s: String): Seq[(Int, Int)] = {
      val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
      var i = 0
      while (i < s.length) {
        val q = s.charAt(i)
        if (q == '\'' || q == '"') {
          val start = i
          i += 1
          var closed = false
          while (i < s.length && !closed) {
            val c = s.charAt(i)
            if (c == '\\' && i + 1 < s.length) i += 2 // backslash escape
            else if (c == q && i + 1 < s.length && s.charAt(i + 1) == q) i += 2 // '' doubling
            else if (c == q) { closed = true; i += 1 }
            else i += 1
          }
          spans += ((start, i)) // unterminated literal: span runs to end
        } else i += 1
      }
      spans.toSeq
    }

    private def inQuote(spans: Seq[(Int, Int)], pos: Int): Boolean =
      spans.exists { case (a, b) => pos >= a && pos < b }

    /** Split on `sep` at paren depth 0, OUTSIDE string literals (SET
      * lists carry function calls and quoted values — `SET a = 'x,y'`
      * must not split inside the literal). */
    private def splitTop(s: String, sep: Char): Seq[String] = {
      val spans = quotedSpans(s)
      val out = scala.collection.mutable.ListBuffer.empty[String]
      val cur = new StringBuilder
      var depth = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (inQuote(spans, i)) cur += c
        else c match {
          case '(' => depth += 1; cur += '('
          case ')' => depth -= 1; cur += ')'
          case x if x == sep && depth == 0 => out += cur.toString; cur.clear()
          case x => cur += x
        }
        i += 1
      }
      out += cur.toString
      out.toSeq
    }

    /** Index of the first occurrence of keyword `kw` (as a whole word,
      * case-insensitive) at paren depth 0 and outside string literals. */
    private def topKeyword(s: String, kw: String): Option[Int] = {
      val spans = quotedSpans(s)
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      val k = kw.toLowerCase(java.util.Locale.ROOT)
      def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
      var depth = 0
      var i = 0
      while (i < s.length) {
        if (!inQuote(spans, i)) s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && lower.startsWith(k, i) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + k.length >= s.length || !wordChar(s.charAt(i + k.length))))
              return Some(i)
        }
        i += 1
      }
      None
    }

    private val Assign = "(?s)^\\s*([A-Za-z0-9_]+)\\s*=\\s*(.+)$".r

    /** EVERY top-level occurrence of keyword `kw` (the [[topKeyword]]
      * scan, continued) — what splits a MERGE's WHEN clause list. */
    private def topKeywordAll(s: String, kw: String): Seq[Int] = {
      val spans = quotedSpans(s)
      val lower = s.toLowerCase(java.util.Locale.ROOT)
      val k = kw.toLowerCase(java.util.Locale.ROOT)
      def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
      val out = scala.collection.mutable.ListBuffer.empty[Int]
      var depth = 0
      var i = 0
      while (i < s.length) {
        if (!inQuote(spans, i)) s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && lower.startsWith(k, i) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + k.length >= s.length || !wordChar(s.charAt(i + k.length))))
              out += i
        }
        i += 1
      }
      out.toSeq
    }

    private val MergeTail =
      ("(?is)^\\s*(?:(?:AS\\s+)?(?!ON\\b)([A-Za-z0-9_]+)\\s+)?" +
        "ON\\s+([A-Za-z0-9_]+)\\s*(.*?)\\s*;?\\s*$").r
    private val WhenMatched = "(?is)^MATCHED\\s*(.*)$".r
    private val WhenNotBySource = "(?is)^NOT\\s+MATCHED\\s+BY\\s+SOURCE\\s*(.*)$".r
    private val WhenNotMatched = "(?is)^NOT\\s+MATCHED\\s*(.*)$".r
    private val ActUpdateAll = "(?is)^UPDATE\\s+SET\\s*\\*$".r
    private val ActUpdate = "(?is)^UPDATE\\s+SET\\s+(.+)$".r
    private val ActDelete = "(?is)^DELETE$".r
    private val ActInsert = "(?is)^INSERT\\s*\\*$".r
    // column list is bare identifiers (no parens), so the first close
    // paren ends it; the VALUES exprs are comma-split paren-aware
    private val ActInsertCols =
      "(?is)^INSERT\\s*\\(([^)]+)\\)\\s*VALUES\\s*\\((.+)\\)\\s*$".r

    /** Full conditional-MERGE parse (Delta's MERGE grammar, reduced to
      * the single-key equi-join this surface speaks):
      *
      *   MERGE INTO txlog.`root` USING (<select>) [alias] ON <key>
      *     [WHEN MATCHED [AND cond] THEN UPDATE SET *|list | DELETE]…
      *     [WHEN NOT MATCHED [AND cond] THEN INSERT *]…
      *     [WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET list | DELETE]…
      *
      * No WHEN clause at all = the keyed last-write-wins upsert
      * shorthand (UPDATE SET * / INSERT *), unchanged since round 10.
      * Conditions and assignments see target columns bare and the source
      * row as `<alias>.<col>` (default alias `src`) — [[TxLog.mergeInto]]
      * scoping. */
    private object MergeStmt {
      def unapply(stmt: String): Option[(String, String, String, String,
          Option[String], Seq[TxLog.MergeClause], Seq[TxLog.MergeClause],
          Seq[TxLog.MergeClause], Boolean)] = {
        val m = MergeHead.findFirstMatchIn(stmt).getOrElse(return None)
        val evolve = m.group(1) != null
        val root = m.group(2)
        val spans = quotedSpans(stmt)
        var i = m.end
        var depth = 1
        val start = i
        while (i < stmt.length && depth > 0) {
          if (!inQuote(spans, i)) stmt.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ => ()
          }
          i += 1
        }
        require(depth == 0, "MERGE: unbalanced parens in USING subquery")
        val source = stmt.substring(start, i - 1)
        stmt.substring(i) match {
          case MergeTail(alias, key, tail) =>
            // `ON key AND <targetScope>`: everything between the key and
            // the first top-level WHEN is the optional scope predicate —
            // the Delta merge-condition shape (a predicate on the TARGET
            // row bounding which files/rows the merge may touch)
            val cuts = topKeywordAll(tail, "WHEN")
            val cut = cuts.headOption.getOrElse(tail.length)
            val pre = tail.substring(0, cut).trim
            val scope =
              if (pre.isEmpty) None
              else {
                require(pre.toLowerCase(java.util.Locale.ROOT)
                  .startsWith("and") &&
                  (pre.length == 3 || !Character.isLetterOrDigit(pre.charAt(3))),
                  s"MERGE: expected AND <targetScope> or WHEN after ON $key, " +
                    s"got: $pre")
                Some(pre.substring(3).trim)
              }
            val (mt, nm, ns) = parseWhenClauses(tail.substring(cut))
            Some((root, source, Option(alias).getOrElse("src"), key,
              scope, mt, nm, ns, evolve))
          case bad => throw new IllegalArgumentException(
            s"MERGE: expected [alias] ON <key> [WHEN ...], got: $bad")
        }
      }
    }

    private def parseWhenClauses(text: String): (Seq[TxLog.MergeClause],
        Seq[TxLog.MergeClause], Seq[TxLog.MergeClause]) = {
      val t = text.trim
      if (t.isEmpty) return (Seq.empty, Seq.empty, Seq.empty)
      val cuts = topKeywordAll(t, "WHEN")
      require(cuts.nonEmpty && t.substring(0, cuts.head).trim.isEmpty,
        s"MERGE: unexpected text before first WHEN clause: $t")
      val segs = cuts.zipAll(cuts.drop(1), 0, t.length).map {
        case (a, b) => t.substring(a + "WHEN".length, b).trim
      }
      val matched = scala.collection.mutable.ListBuffer.empty[TxLog.MergeClause]
      val notMatched = scala.collection.mutable.ListBuffer.empty[TxLog.MergeClause]
      val bySource = scala.collection.mutable.ListBuffer.empty[TxLog.MergeClause]
      segs.foreach { seg =>
        val thenAt = topKeyword(seg, "THEN").getOrElse(
          throw new IllegalArgumentException(s"MERGE: WHEN clause lacks THEN: $seg"))
        val head = seg.substring(0, thenAt).trim
        val action = seg.substring(thenAt + "THEN".length).trim match {
          case ActDelete() => TxLog.MergeDelete
          case ActInsert() => TxLog.MergeInsert
          case ActInsertCols(colList, exprList) => TxLog.MergeInsertCols(
            splitTop(colList, ',').map(_.trim),
            splitTop(exprList, ',').map(e => expr(e)))
          case ActUpdateAll() => TxLog.MergeUpdate()
          case ActUpdate(setList) => TxLog.MergeUpdate(
            splitTop(setList, ',').map {
              case Assign(c, e) => c -> expr(e)
              case bad => throw new IllegalArgumentException(
                s"MERGE: malformed SET assignment: $bad")
            })
          case bad => throw new IllegalArgumentException(
            s"MERGE: unknown action: $bad")
        }
        def condOf(rest: String): Option[org.apache.spark.sql.Column] = {
          val r = rest.trim
          if (r.isEmpty) None
          else {
            require(r.toLowerCase(java.util.Locale.ROOT).startsWith("and") &&
              (r.length == 3 || !Character.isLetterOrDigit(r.charAt(3))),
              s"MERGE: expected AND <cond> before THEN, got: $r")
            Some(expr(r.substring(3)))
          }
        }
        head match {
          case WhenNotBySource(rest) =>
            bySource += TxLog.MergeClause(condOf(rest), action)
          case WhenNotMatched(rest) =>
            notMatched += TxLog.MergeClause(condOf(rest), action)
          case WhenMatched(rest) =>
            matched += TxLog.MergeClause(condOf(rest), action)
          case bad => throw new IllegalArgumentException(
            s"MERGE: unknown WHEN clause: WHEN $bad")
        }
      }
      (matched.toSeq, notMatched.toSeq, bySource.toSeq)
    }

    def sql(spark: SparkSession, stmt: String): DataFrame = stmt match {
      case InsertInto(root, select) =>
        val v = TxLog.insertInto(spark, root, sql(spark, select))
        spark.range(1).select(lit(v).as("version"))
      case InsertOver(root, select) =>
        val v = TxLog.insertOverwrite(spark, root, sql(spark, select))
        spark.range(1).select(lit(v).as("version"))
      case CreateAs(orReplace, root, partList, select) =>
        val df = sql(spark, select)
        val parts = Option(partList)
          .map(splitTop(_, ',').map(_.trim).filter(_.nonEmpty))
          .getOrElse(Seq.empty)
        // CREATE refuses an existing table loudly (ensureUninitialized);
        // OR REPLACE routes to replaceTable — the note ledger RESETS,
        // the Delta OR-REPLACE shape (INSERT OVERWRITE is the
        // properties-carrying replace)
        // a create losing the init race to a concurrent CREATE throws
        // the internal retryable CME (ensureUninitialized) — surface the
        // same loud already-exists contract as the pre-check, never a
        // "concurrent modification" a SQL caller can't act on
        def alreadyExists(): Nothing = throw new IllegalStateException(
          s"CREATE TABLE: txlog table $root already exists — use " +
            "CREATE OR REPLACE TABLE (ledger reset) or INSERT " +
            "OVERWRITE (data replace, metadata carried)")
        val v =
          if (Option(orReplace).isEmpty) {
            if (TxLog.snapshot(root).isDefined) alreadyExists()
            try parts match {
              case Seq() => TxLog.init(spark, root, df)
              case ps => TxLog.initPartitioned(spark, root, df, ps, "")
            } catch {
              case _: java.util.ConcurrentModificationException =>
                alreadyExists()
            }
          }
          else
            // create-or-replace at any partition arity: a fresh root
            // creates, an existing one replaces (layout must match —
            // partition columns are fixed at creation, refused loudly
            // inside replaceTablePartitioned otherwise)
            TxLog.replaceTablePartitioned(spark, root, df, parts)
        spark.range(1).select(lit(v).as("version"))
      case Delete(root, pred) =>
        val v = TxLog.delete(spark, root, expr(pred))
        spark.range(1).select(lit(v).as("version"))
      case Update(root, rest) =>
        val whereAt = topKeyword(rest, "WHERE").getOrElse(
          throw new IllegalArgumentException(
            "UPDATE: missing top-level WHERE clause"))
        val setList = rest.substring(0, whereAt)
        val pred = rest.substring(whereAt + "WHERE".length)
        val assignments = splitTop(setList, ',').map {
          case Assign(c, e) => c -> expr(e)
          case bad => throw new IllegalArgumentException(
            s"UPDATE: malformed SET assignment: $bad")
        }
        val v = TxLog.updateWhere(spark, root, expr(pred), assignments)
        spark.range(1).select(lit(v).as("version"))
      case MergeStmt(root, source, alias, key, scope, matched, notMatched,
          bySource, evolve) =>
        // the USING subquery goes back through TxSql: it may itself
        // reference txlog tables (including THIS one, pinned at an
        // earlier version — self-referential backfills)
        val src = sql(spark, source)
        val v =
          if (matched.isEmpty && notMatched.isEmpty && bySource.isEmpty &&
            scope.isEmpty && !evolve)
            // no WHEN clauses: the keyed last-write-wins upsert shorthand
            TxLog.upsert(spark, root, src, key)
          else if (matched.isEmpty && notMatched.isEmpty && bySource.isEmpty &&
            scope.isEmpty)
            // the shorthand WITH SCHEMA EVOLUTION spells last-write-wins
            // as explicit clauses so evolved columns flow through
            // SET * / INSERT * — with STANDARD-MERGE semantics, which
            // differ from the plain shorthand's upsert in two ways a
            // caller adding the keyword must expect: duplicate source
            // keys that match a target key refuse (SQL MERGE's
            // multi-match error; the upsert tolerates them), and the
            // table must already exist (the upsert would mint it)
            TxLog.mergeInto(spark, root, src, key,
              matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate())),
              notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert)),
              srcAlias = alias, schemaEvolution = true)
          else TxLog.mergeInto(spark, root, src, key, matched, notMatched,
            bySource, srcAlias = alias, targetScope = scope.map(s => expr(s)),
            schemaEvolution = evolve)
        spark.range(1).select(lit(v).as("version"))
      case Optimize(root, target, zorderCols, incremental) =>
        val t = Option(target).map(_.toInt).getOrElse(8)
        // ZORDER BY (c1, c2, ...) routes to the multi-dimensional
        // clustering rewrite (INCREMENTAL folds only the unsorted tail);
        // bare OPTIMIZE stays bin-pack compaction
        val v = Option(zorderCols) match {
          case Some(cs) if Option(incremental).isDefined =>
            TxLog.clusterIncremental(spark, root,
              splitTop(cs, ',').map(_.trim), t)
          case Some(cs) =>
            TxLog.cluster(spark, root, splitTop(cs, ',').map(_.trim), t)
          case None => TxLog.compact(spark, root, t)
        }
        spark.range(1).select(lit(v).as("version"))
      case Vacuum(root, hours) =>
        val graceMs = Option(hours)
          .map(_.toLong * 3600L * 1000L).getOrElse(TxLog.DefaultVacuumGraceMs)
        val swept = TxLog.vacuum(root, graceMs)
        spark.range(1).select(lit(swept).as("swept"))
      case Restore(root, ver, ts) =>
        val toV = Option(ver).map(_.toLong).getOrElse {
          val t = ts.toLong
          TxLog.versionAt(root, t).getOrElse(throw new IllegalArgumentException(
            s"txlog $root has no version published at or before $t"))
        }
        val v = TxLog.restore(spark, root, toV)
        spark.range(1).select(lit(v).as("version"))
      case History(root) =>
        import spark.implicits._
        TxLog.history(root)
          .map(h => (h.version, h.timestampMs, h.nFiles, h.notes.toSeq.sorted))
          .toDF("version", "timestamp_ms", "n_files", "notes")
      case Changes(root, from, to) =>
        // the row-level change feed as a statement: rows inserted/deleted
        // in versions (from, to], tagged _change_type/_commit_version
        TxLog.readChanges(spark, root, from.toLong,
          Option(to).map(_.toLong).getOrElse(-1L))
      case AddConstraint(root, name, check) =>
        val v = TxLog.addConstraint(spark, root, name, check.trim)
        spark.range(1).select(lit(v).as("version"))
      case DropConstraint(root, name) =>
        val v = TxLog.dropConstraint(root, name)
        spark.range(1).select(lit(v).as("version"))
      case AlterProps(root, propList) =>
        // table properties (kv notes) land as their own metadata-only
        // version — the `delete_mode = mor` deletion-vector switch etc.
        val kv = splitTop(propList, ',').map {
          case PropPair(qk, bk, v) => Option(qk).getOrElse(bk) -> v
          case bad => throw new IllegalArgumentException(
            s"SET TBLPROPERTIES: malformed property pair: $bad")
        }.toMap
        val v = TxLog.setProperties(root, kv)
        spark.range(1).select(lit(v).as("version"))
      case Detail(root) =>
        // one-row current-version summary, all from the manifest (zero
        // data I/O): sizes/rows are exact when every entry carries them
        // (any table staged since round 11), null on older vintages —
        // absence degrades, never guesses (the stats-layer rule)
        import spark.implicits._
        val snap = TxLog.snapshot(root).getOrElse(
          throw new IllegalStateException(s"no committed version at $root"))
        val sizes = snap.entries.map(_.size)
        // live rows: footer rows minus deletion-vector rows, exact under
        // merge-on-read deletes
        val rows = snap.entries.map(_.liveRows)
        val fields = snap.schemaJson.map { j =>
          val phys = org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          phys.fields.map(f =>
            snap.mapping.getOrElse(f.name, f.name)).toSeq
        }
        Seq((snap.version, snap.timestampMs,
          snap.entries.size,
          if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None,
          if (rows.forall(_.isDefined)) Some(rows.flatten.sum) else None,
          snap.partCols.map(_._1),
          fields,
          snap.notes.size,
          snap.entries.count(_.dv.isDefined),
          snap.entries.flatMap(_.dv.map(_._2)).sum))
          .toDF("version", "timestamp_ms", "n_files", "size_bytes",
            "n_rows", "part_cols", "fields", "n_notes",
            "dv_files", "dv_rows")
      case Analyze(root, colList) =>
        // column stats as table properties in one metadata commit —
        // exact rows/nulls/min/max, HLL NDV (see TxLog.analyzeTable)
        val cols = Option(colList).map(_.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
        val v = TxLog.analyzeTable(spark, root, cols)
        spark.range(1).select(lit(v).as("version"))
      case DescStats(root) =>
        TxLog.describeStats(spark, root)
      case ShowParts(root) =>
        // per-partition census from the manifest's value tags + footer
        // stats — zero data I/O, zero directory listing (the hive-path
        // SHOW PARTITIONS walks the filesystem; this reads one manifest)
        import spark.implicits._
        val snap = TxLog.snapshot(root).getOrElse(
          throw new IllegalStateException(s"no committed version at $root"))
        val names = snap.partCols.map(_._1)
        TxLog.partitionCensus(root).map { case (tuple, nFiles, nRows) =>
          (names.zip(tuple).map { case (k, v) =>
            s"$k=${v.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
          }.mkString("/"), nFiles, nRows)
        }.toDF("partition", "n_files", "n_rows")
      case _ =>
        val created = scala.collection.mutable.ListBuffer.empty[String]
        // literal-blind rewrite: a txlog.`...` occurrence INSIDE a string
        // literal is data, not a table reference — leave it verbatim
        val stmtSpans = quotedSpans(stmt)
        val rewritten = Ref.replaceSomeIn(stmt, m => {
          if (inQuote(stmtSpans, m.start)) None else Some {
          val root = m.group(1)
          val version = Option(m.group(2)).map(_.toLong)
            .orElse(Option(m.group(3)).map { ts =>
              TxLog.versionAt(root, ts.toLong).getOrElse(
                throw new IllegalArgumentException(
                  s"txlog $root has no version published at or before $ts"))
            }).getOrElse(-1L)
          val view = s"txlog_v_${java.util.UUID.randomUUID().toString.take(8)}"
          val snap = TxLog.snapshot(root, version).getOrElse(
            throw new IllegalStateException(s"no committed version at $root" +
              (if (version >= 0) s" (asked for $version)" else "")))
          val df = TxLog.readSnapshot(spark, root, snap)
          // ANALYZE-stats-informed broadcast decision (the classic CBO
          // stats-below-threshold shape): a txlog relation's native size
          // estimate is its COMPRESSED on-disk bytes, which can sit over
          // autoBroadcastJoinThreshold for a dim whose exact analyzed
          // row count proves it broadcastable — fresh stats flip such a
          // join to broadcast at plan time instead of waiting for an AQE
          // runtime re-plan (and on a pre-AQE-materialization shape,
          // never getting one). Freshness is an entry-fingerprint match
          // (TxLog.freshStatsRows): any data-changing commit since the
          // ANALYZE — append, delete, vectors, compact — silently
          // disables the hint rather than planning on stale counts. The
          // row width is Catalyst's per-type defaultSize (what
          // Statistics(rowCount) planning uses) — a deliberate estimate,
          // only ever compared against the same threshold Spark compares
          // its own size estimates to.
          val hinted = TxLog.freshStatsRows(snap) match {
            case Some(rows) =>
              val width = 8L +
                df.schema.fields.map(_.dataType.defaultSize.toLong).sum
              val thresh = org.apache.spark.sql.internal.SQLConf.get
                .autoBroadcastJoinThreshold
              if (thresh > 0 && rows * width <= thresh) broadcast(df) else df
            case None => df
          }
          hinted.createOrReplaceTempView(view)
          created += view
          scala.util.matching.Regex.quoteReplacement(view)
        }})
        // resolution is eager, so the returned plan no longer needs the
        // catalog entries — drop them (same discipline as sql2's view)
        try spark.sql(rewritten)
        finally created.foreach(spark.catalog.dropTempView(_))
    }
  }

  private def viewsReady(s: SparkSession, dir: String): Unit =
    Seq("lineitem", "orders", "customer").foreach { t =>
      Tables.table(s, dir, t).createOrReplaceTempView(t)
    }

  val defs: Seq[QueryDef] = Seq(
    // SQL1: the flagship Q1 shape submitted as a SQL STRING — proves the
    // engine's `spark.sql` frontend reaches the same operators (and the
    // same plan) as the DataFrame API.
    QueryDef("sql1_q1_via_sql",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      viewsReady(s, dir)
      s.sql("""SELECT l_returnflag, l_linestatus,
              |       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
              |       CAST(count(*) AS BIGINT) AS n
              |FROM lineitem
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },

    // SET1: union / intersect / except with exact grouped checksums —
    // the set-algebra completions (distinct semantics per ANSI).
    QueryDef("set1_union_intersect_except",
      """WITH hi AS (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 40),
        |     lo AS (SELECT l_orderkey FROM lineitem WHERE l_extendedprice < 20000)
        |SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n, CAST(sum(l_orderkey) AS BIGINT) AS ck
        |FROM (SELECT l_orderkey FROM hi UNION SELECT l_orderkey FROM lo)
        |UNION ALL
        |SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n, CAST(sum(l_orderkey) AS BIGINT) AS ck
        |FROM (SELECT l_orderkey FROM hi INTERSECT SELECT l_orderkey FROM lo)
        |UNION ALL
        |SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n, CAST(sum(l_orderkey) AS BIGINT) AS ck
        |FROM (SELECT l_orderkey FROM hi EXCEPT SELECT l_orderkey FROM lo)
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val hi = li.filter(col("l_quantity") >= 40).select("l_orderkey")
      val lo = li.filter(col("l_extendedprice") < 20000).select("l_orderkey")
      def ck(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n"), sum("l_orderkey").as("ck"))
          .select(lit(tag).as("op"), col("n"), col("ck"))
      ck("union", hi.union(lo).distinct())
        .union(ck("intersect", hi.intersect(lo)))
        .union(ck("except", hi.except(lo)))
        .orderBy("op")
    },

    // CUBE1: full grouping-set lattice (CUBE = every subset of the keys).
    QueryDef("cube1_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // FN1: scalar date/string/math function library over the fact table —
    // the per-row function surface the reference never had (dates stayed
    // strings end-to-end there, SURVEY §2.7).
    QueryDef("fn1_scalar_functions",
      """SELECT CAST(year(l_shipdate) AS INT) AS y,
        |       CAST(quarter(l_shipdate) AS INT) AS q,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(abs(l_extendedprice - l_quantity * 1000) * 100) AS BIGINT)) AS BIGINT) AS ck_gap,
        |       min(upper(l_returnflag) || '-' || CAST(l_linenumber AS VARCHAR)) AS min_tag
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY y, q""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(year(col("l_shipdate")).as("y"), quarter(col("l_shipdate")).as("q"))
        .agg(count(lit(1)).as("n"),
          sum(floor(abs(col("l_extendedprice") - col("l_quantity") * 1000) * 100)
            .cast("long")).as("ck_gap"),
          min(concat(upper(col("l_returnflag")), lit("-"),
            col("l_linenumber").cast("string"))).as("min_tag"))
        .orderBy("y", "q")
    },

    // FN2: the datetime function family fn1 only grazes — truncation,
    // day arithmetic, calendar-aware month addition (clamps to month end
    // in BOTH engines: Jan 31 + 1mo = Feb 29), last-day, ISO weekday.
    // Spark's weekday() is 0=Monday; DuckDB's isodow is 1=Monday — the
    // +1 shift is applied on the Spark side so both sum the same series.
    // All outputs are DATEs or exact ints: nothing here can drift.
    QueryDef("fn2_datetime_functions",
      // o_orderdate is a parquet TIMESTAMP; date semantics are pinned by
      // casting to DATE up front (Spark's date functions do the same
      // coercion implicitly)
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT CAST(date_trunc('month', d) AS DATE) AS mon,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(datediff('day', DATE '1995-01-01', d)) AS INT) AS min_dd,
        |       CAST(min(d + INTERVAL 3 MONTH) AS DATE) AS min_am3,
        |       max(last_day(d)) AS max_ld,
        |       min(d + 7) AS min_d7,
        |       CAST(sum(isodow(d)) AS BIGINT) AS dow_ck
        |FROM o GROUP BY 1 ORDER BY mon""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
        .agg(count(lit(1)).as("n"),
          min(datediff(col("o_orderdate"), lit("1995-01-01"))).as("min_dd"),
          min(add_months(col("o_orderdate"), 3)).as("min_am3"),
          max(last_day(col("o_orderdate"))).as("max_ld"),
          min(date_add(col("o_orderdate"), 7)).as("min_d7"),
          sum((weekday(col("o_orderdate")) + 1).cast("long")).as("dow_ck"))
        .orderBy("mon")
    },

    // FN3: higher-order ARRAY functions — transform / filter / aggregate
    // (fold) / zip_with / sort_array / slice / distinct / contains /
    // position, the lambda-function surface the engine's own kernels lean
    // on (gram pairs, PCA projections, token pipelines), certified as a
    // user-facing API against DuckDB's list_* family. Every array is
    // reduced to integer SCALARS before comparison: arrays themselves
    // don't cross engines safely (DuckDB's list_distinct does not
    // preserve order — observed [1,2,2,3] → [3,2,1] — while Spark's
    // array_distinct keeps first occurrence), so the certified values
    // are order-free reductions and order-PINNED extractions
    // (sort_array extremes, prefix-slice sums). Spark array_position
    // returns 0 when absent; DuckDB returns NULL — COALESCEd to 0.
    QueryDef("fn3_array_functions",
      """WITH a AS (SELECT doc_id,
        |             list_transform(string_split(text, ' '),
        |                            t -> CAST(length(t) AS BIGINT)) AS arr
        |           FROM documents),
        |d AS (SELECT doc_id, arr,
        |        CAST(list_sum(arr) AS BIGINT) AS tot,
        |        CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS evens,
        |        CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT) AS sq,
        |        list_sort(arr)[1] AS mn,
        |        list_sort(arr)[len(arr)] AS mx,
        |        CAST(len(list_distinct(arr)) AS BIGINT) AS ndist,
        |        CASE WHEN list_contains(arr, 5) THEN 1 ELSE 0 END AS has5,
        |        CAST(COALESCE(list_position(arr, 5), 0) AS BIGINT) AS pos5,
        |        CAST(COALESCE(list_sum(arr[1:3]), 0) AS BIGINT) AS head3,
        |        CAST(list_sum(list_transform(list_zip(arr, list_reverse(arr)),
        |                                     p -> p[1] * p[2])) AS BIGINT) AS zw
        |      FROM a)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(tot) AS BIGINT) AS s_tot, CAST(sum(evens) AS BIGINT) AS s_evens,
        |       CAST(sum(sq) AS BIGINT) AS s_sq, CAST(sum(mn) AS BIGINT) AS s_mn,
        |       CAST(sum(mx) AS BIGINT) AS s_mx, CAST(sum(ndist) AS BIGINT) AS s_ndist,
        |       CAST(sum(has5) AS BIGINT) AS s_has5, CAST(sum(pos5) AS BIGINT) AS s_pos5,
        |       CAST(sum(head3) AS BIGINT) AS s_head3, CAST(sum(zw) AS BIGINT) AS s_zw
        |FROM d""".stripMargin) { (s, dir) =>
      val arr = transform(split(col("text"), " "), t => length(t).cast("long"))
      Tables.documents(s, dir)
        .select(col("doc_id"), arr.as("arr"))
        .select(
          aggregate(col("arr"), lit(0L), (a, x) => a + x).as("tot"),
          size(filter(col("arr"), x => x % 2 === 0)).cast("long").as("evens"),
          aggregate(transform(col("arr"), x => x * x), lit(0L), (a, x) => a + x).as("sq"),
          element_at(sort_array(col("arr")), 1).as("mn"),
          element_at(sort_array(col("arr")), size(col("arr"))).as("mx"),
          size(array_distinct(col("arr"))).cast("long").as("ndist"),
          when(array_contains(col("arr"), 5L), 1L).otherwise(0L).as("has5"),
          array_position(col("arr"), 5L).cast("long").as("pos5"),
          coalesce(aggregate(slice(col("arr"), 1, 3), lit(0L), (a, x) => a + x),
            lit(0L)).as("head3"),
          aggregate(zip_with(col("arr"), reverse(col("arr")), (x, y) => x * y),
            lit(0L), (a, x) => a + x).as("zw"))
        .agg(count(lit(1)).as("n"), sum("tot").as("s_tot"),
          sum("evens").as("s_evens"), sum("sq").as("s_sq"),
          sum("mn").as("s_mn"), sum("mx").as("s_mx"),
          sum("ndist").as("s_ndist"), sum("has5").as("s_has5"),
          sum("pos5").as("s_pos5"), sum("head3").as("s_head3"),
          sum("zw").as("s_zw"))
    },

    // FN4: the string/regex scalar family — regexp_extract (group
    // capture), regexp_replace, strpos/instr, split_part, translate
    // (delete form), lpad, reverse, repeat, left/right — certified as
    // integer reductions over the documents corpus. Regex patterns stay
    // in the character-class subset where Java regex (Spark) and RE2
    // (DuckDB) agree; the empty-match '' → 0 mapping is explicit on both
    // sides (DuckDB CAST('' AS BIGINT) would error where Spark casts to
    // NULL). Vowel counting goes through translate's delete form —
    // chars with no counterpart are removed in BOTH engines.
    QueryDef("fn4_string_functions",
      """WITH d AS (SELECT doc_id, text,
        |        regexp_extract(text, '[0-9]+') AS num0,
        |        regexp_extract(text, '([a-z]+)([0-9]+)', 2) AS grp2,
        |        length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
        |        strpos(text, 'the') AS pos_the,
        |        length(text) - length(translate(text, 'aeiou', '')) AS n_vowels,
        |        length(split_part(text, ' ', 2)) AS sp2_len,
        |        ascii(substr(reverse(text), 1, 1)) AS last_ch,
        |        ascii(left(text, 1)) + ascii(right(text, 1)) AS edge_ck,
        |        length(repeat(lpad(CAST(doc_id AS VARCHAR), 6, '0'), 2)) AS rep_len
        |      FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN num0 = '' THEN 0 ELSE CAST(num0 AS BIGINT) END) AS BIGINT) AS s_num,
        |       CAST(sum(CASE WHEN grp2 = '' THEN 0 ELSE CAST(grp2 AS BIGINT) END) AS BIGINT) AS s_grp2,
        |       CAST(sum(novowel_len) AS BIGINT) AS s_novowel,
        |       CAST(sum(pos_the) AS BIGINT) AS s_pos,
        |       CAST(sum(n_vowels) AS BIGINT) AS s_vowels,
        |       CAST(sum(sp2_len) AS BIGINT) AS s_sp2,
        |       CAST(sum(last_ch) AS BIGINT) AS s_last,
        |       CAST(sum(edge_ck) AS BIGINT) AS s_edge,
        |       CAST(sum(rep_len) AS BIGINT) AS s_rep
        |FROM d""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          regexp_extract(col("text"), "[0-9]+", 0).as("num0"),
          regexp_extract(col("text"), "([a-z]+)([0-9]+)", 2).as("grp2"),
          length(regexp_replace(col("text"), "[aeiou]", "")).as("novowel_len"),
          instr(col("text"), "the").as("pos_the"),
          (length(col("text")) -
            length(translate(col("text"), "aeiou", ""))).as("n_vowels"),
          length(split_part(col("text"), lit(" "), lit(2))).as("sp2_len"),
          ascii(substring(reverse(col("text")), 1, 1)).as("last_ch"),
          (ascii(substring(col("text"), 1, 1)) +
            ascii(expr("right(text, 1)"))).as("edge_ck"),
          length(repeat(lpad(col("doc_id").cast("string"), 6, "0"), 2)).as("rep_len"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("num0") === "", 0L)
            .otherwise(col("num0").cast("long"))).as("s_num"),
          sum(when(col("grp2") === "", 0L)
            .otherwise(col("grp2").cast("long"))).as("s_grp2"),
          sum("novowel_len").as("s_novowel"), sum("pos_the").as("s_pos"),
          sum("n_vowels").as("s_vowels"), sum("sp2_len").as("s_sp2"),
          sum("last_ch").as("s_last"), sum("edge_ck").as("s_edge"),
          sum("rep_len").as("s_rep"))
        .select(col("n"), col("s_num"), col("s_grp2"), col("s_novowel"),
          col("s_pos").cast("long").as("s_pos"), col("s_vowels"),
          col("s_sp2").cast("long").as("s_sp2"), col("s_last"),
          col("s_edge"), col("s_rep").cast("long").as("s_rep"))
    },

    // JSON1: semi-structured column handling — events.props is a JSON
    // string; extract + aggregate a field. At scale this is the schema-on-
    // read path for property bags (get_json_object stays in codegen).
    QueryDef("json1_extract",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("event_type")
    },

    // ORC1: source-format breadth — the same documents tier round-trips
    // through ORC (Spark-native columnar sibling to parquet; the jars
    // ship with core Spark). The fixture converts once per sf dir
    // (atomic-move publish, s6's discipline); the read side filters +
    // projects so the scan exercises ORC predicate pushdown / column
    // pruning, and the checksum certifies byte-exact payload fidelity
    // through the format. Oracle reads the original parquet — a hash
    // match certifies the conversion lost nothing.
    QueryDef("orc1_source_roundtrip",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck
        |FROM documents WHERE doc_id % 3 <> 1
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val out = s"${graft.Paths.work}/orc-docs-" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      this.synchronized {
        if (!new java.io.File(s"$out/_SUCCESS").isFile) {
          val tmp = new java.io.File(out + s".tmp-${System.nanoTime()}")
          Tables.documents(s, dir).select("doc_id", "text", "lang")
            .coalesce(2).write.mode("overwrite").orc(tmp.getAbsolutePath)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
          java.nio.file.Files.move(tmp.toPath, new java.io.File(out).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }
      s.read.orc(out)
        .filter(col("doc_id") % 3 =!= 1)
        .select("lang", "doc_id", "text")
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum((col("doc_id") + 1) * length(col("text").cast("binary")))
            .cast("long").as("ck"))
        .orderBy("lang")
    },

    // PIVOT1: grouped pivot (wide per-category columns) — oracle mirrors
    // it as per-category conditional sums (NULL when a cell has no rows,
    // matching pivot semantics). Exact integer cells.
    QueryDef("pivot1_events", {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cells = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS $t")
        .mkString(",\n        |       ")
      s"""SELECT user_id % 10 AS cohort,
        |       $cells
        |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin
    }) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(floor(col("value") * 100).cast("long")))
        .orderBy("cohort")
    },

    // SUB1: correlated scalar subquery (TPC-H Q17 shape) — each lineitem
    // row compared against an aggregate over ITS OWN part's rows. Catalyst
    // decorrelates this into a grouped aggregate joined back on l_partkey
    // (SubquerySpec pins the rewrite: no per-row subquery execution, one
    // Aggregate + one equi-join — the only plan that survives at 100 TB).
    // Determinism: l_quantity is integral, so sum(double) is exact at any
    // accumulation order and avg = exact_sum / exact_count is bit-identical
    // across engines; the 0.2× threshold compare therefore never straddles
    // an engine-dependent last bit.
    QueryDef("sub1_correlated_scalar",
      """SELECT CAST(count(*) AS BIGINT) AS n_small,
        |       CAST(sum(l_orderkey) AS BIGINT) AS ck_okey,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck_price
        |FROM lineitem l1
        |WHERE l_quantity < 0.2 * (SELECT avg(l_quantity) FROM lineitem l2
        |                          WHERE l2.l_partkey = l1.l_partkey)""".stripMargin) { (s, dir) =>
      viewsReady(s, dir)
      s.sql("""SELECT CAST(count(*) AS BIGINT) AS n_small,
              |       CAST(sum(l_orderkey) AS BIGINT) AS ck_okey,
              |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck_price
              |FROM lineitem l1
              |WHERE l_quantity < 0.2 * (SELECT avg(l_quantity) FROM lineitem l2
              |                          WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
    },

    // SUB2: TPC-H Q22 shape — uncorrelated scalar subquery (global average
    // as a one-row broadcast) + NOT EXISTS (decorrelated to a left-anti
    // join). Complements sub1: Catalyst's OTHER two subquery rewrites.
    // Determinism: the average is taken over integer-scaled balances
    // (floor(bal*100) as BIGINT), so its value is exact in both engines and
    // the > threshold can't straddle an accumulation-order bit.
    QueryDef("sub2_exists_global_avg",
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS ck_bal
        |FROM customer c
        |WHERE CAST(floor(c_acctbal * 100) AS BIGINT) >
        |      (SELECT avg(CAST(floor(c_acctbal * 100) AS BIGINT))
        |       FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      viewsReady(s, dir)
      s.sql("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
              |       CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS ck_bal
              |FROM customer c
              |WHERE CAST(floor(c_acctbal * 100) AS BIGINT) >
              |      (SELECT avg(CAST(floor(c_acctbal * 100) AS BIGINT))
              |       FROM customer WHERE c_acctbal > 0)
              |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
              |GROUP BY c_nationkey
              |ORDER BY c_nationkey""".stripMargin)
    },

    // TOP1: explicit top-k as an operator (global ORDER BY + LIMIT plans as
    // TakeOrderedAndProject: per-partition heaps + one k-row merge, the
    // scale-safe top-k — never a full global sort).
    QueryDef("top1_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },

    // SQL2: RECURSIVE CTE — iterative fixed-point as a declarative query
    // (Spark 4's UnionLoop operator; the data-dependent-iteration
    // capability g1b proves imperatively, here expressed in pure SQL).
    // A synthetic part taxonomy over ids k = partkey+1 (parent(k) = k÷2,
    // rooted at 1 — the +1 keeps partkey 0 off a second root; depth is
    // the halving-chain length, ~log₂ of the max partkey) is walked from
    // every revenue-bearing part up to the root, and per-part revenue is
    // rolled up to every ancestor: the classic hierarchical-rollup shape
    // (category trees, org charts, BOMs) that plain GROUP BY cannot
    // express without materializing the closure by hand.
    //
    // Scale: the walk materializes |parts|·log|parts| rows — each
    // iteration is a narrow map over the previous frontier (no join in
    // the recursive step), then ONE keyed join against the per-part
    // revenue aggregate and one grouped reduction. The recursion-row
    // safety limit is raised explicitly: the closure is provably
    // O(n log n), the one shape the default 1M-row fuse exists to guard
    // can't run away on. Depth is derived as length(bin(node))-1 —
    // integer string length of the binary representation, identical in
    // both engines (no float log2 on the hash path). Output is one row
    // per taxonomy LEVEL (≤ ~25 rows at any scale): node count, parts
    // rolled up, exact revenue cents, and an anc-keyed mix checksum, so
    // the whole closure is certified, not a sample of it.
    QueryDef("sql2_recursive_rollup",
      """WITH RECURSIVE rev AS (
        |  SELECT l_partkey AS node,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck
        |  FROM lineitem GROUP BY l_partkey),
        |walk(node, anc) AS (
        |  SELECT node, node + 1 FROM rev
        |  UNION ALL
        |  SELECT node, anc // 2 FROM walk WHERE anc > 1),
        |agg AS (
        |  SELECT w.anc AS anc, CAST(count(*) AS BIGINT) AS n_parts,
        |         CAST(sum(r.ck) AS BIGINT) AS rev_ck
        |  FROM walk w JOIN rev r ON w.node = r.node GROUP BY w.anc)
        |SELECT CAST(length(format('{:b}', anc)) - 1 AS BIGINT) AS depth,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(n_parts) AS BIGINT) AS n_parts,
        |       CAST(sum(rev_ck) AS BIGINT) AS rev_ck,
        |       CAST(sum(((anc % 251) + 1) * (rev_ck % 1000003)) AS BIGINT) AS mix
        |FROM agg GROUP BY 1 ORDER BY depth""".stripMargin) { (s, dir) =>
      // CLOSED-FORM walk: this taxonomy's ancestor chain is computable
      // per node (parent(k) = k÷2 ⟹ anc_i = (node+1) >> i), so the
      // whole closure materializes as ONE array expression + explode —
      // one scan, two exchanges — instead of the UnionLoop recursion's
      // ~25 per-level iterative jobs, whose fixed job-tree latency was
      // 1.56x the anchor at this scale. The oracle (and SqlRecursionSpec)
      // keep the WITH RECURSIVE form: the spec pins that the engine's
      // recursive CTE computes the identical closure, so the declarative
      // capability stays certified while the bench path plans flat. The
      // walk's ck rides the explode, which also deletes the recursive
      // form's walk⋈rev re-join.
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("node"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("long").as("ck"))
        .select(col("node"), col("ck"),
          expr("explode(transform(sequence(0, length(bin(node + 1)) - 1)," +
            " i -> shiftright(node + 1, i)))").as("anc"))
        .groupBy(col("anc"))
        .agg(count(lit(1)).cast("long").as("n_parts"),
          sum(col("ck")).cast("long").as("rev_ck"))
        .groupBy((length(bin(col("anc"))) - 1).cast("long").as("depth"))
        .agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(col("n_parts")).cast("long").as("n_parts"),
          sum(col("rev_ck")).cast("long").as("rev_ck"),
          sum(((col("anc") % 251) + 1) * (col("rev_ck") % 1000003))
            .cast("long").as("mix"))
        .orderBy("depth")
    },

    // SQL6: the GENUINE `WITH RECURSIVE` surface under the driver gate —
    // sql2's closed-form rewrite certifies the rollup cheaply, but the
    // declarative recursion (Spark 4's UnionLoop iterative execution)
    // deserves its own oracled row, not just a sf0.001 unit test: this
    // runs the same ancestor-chain walk as an actual recursive CTE
    // through the raised-recursion-limit session. ~25 iterations (one
    // per taxonomy level, each a narrow map over the previous frontier)
    // — fixed job-tree latency, so its budget is learned generously;
    // the capability being exercised is data-dependent iteration, the
    // one plan shape the closed form cannot stand in for.
    QueryDef("sql6_recursive_cte",
      """WITH RECURSIVE rev AS (
        |  SELECT l_partkey AS node,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck
        |  FROM lineitem GROUP BY l_partkey),
        |walk(node, anc) AS (
        |  SELECT node, node + 1 FROM rev
        |  UNION ALL
        |  SELECT node, anc // 2 FROM walk WHERE anc > 1),
        |agg AS (
        |  SELECT w.anc AS anc, CAST(count(*) AS BIGINT) AS n_parts,
        |         CAST(sum(r.ck) AS BIGINT) AS rev_ck
        |  FROM walk w JOIN rev r ON w.node = r.node GROUP BY w.anc)
        |SELECT CAST(length(format('{:b}', anc)) - 1 AS BIGINT) AS depth,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(n_parts) AS BIGINT) AS n_parts,
        |       CAST(sum(rev_ck) AS BIGINT) AS rev_ck,
        |       CAST(sum(((anc % 251) + 1) * (rev_ck % 1000003)) AS BIGINT) AS mix
        |FROM agg GROUP BY 1 ORDER BY depth""".stripMargin) { (s, dir) =>
      val sq = recursionSession(s)
      Tables.lineitem(sq, dir).createOrReplaceTempView("lineitem_sql6_rcte")
      sq.sql("""WITH RECURSIVE rev AS (
        |  SELECT l_partkey AS node,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck
        |  FROM lineitem_sql6_rcte GROUP BY l_partkey),
        |walk(node, anc) AS (
        |  SELECT node, node + 1 FROM rev
        |  UNION ALL
        |  SELECT node, anc DIV 2 FROM walk WHERE anc > 1),
        |agg AS (
        |  SELECT w.anc AS anc, CAST(count(*) AS BIGINT) AS n_parts,
        |         CAST(sum(r.ck) AS BIGINT) AS rev_ck
        |  FROM walk w JOIN rev r ON w.node = r.node GROUP BY w.anc)
        |SELECT CAST(length(bin(anc)) - 1 AS BIGINT) AS depth,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(n_parts) AS BIGINT) AS n_parts,
        |       CAST(sum(rev_ck) AS BIGINT) AS rev_ck,
        |       CAST(sum(((anc % 251) + 1) * (rev_ck % 1000003)) AS BIGINT) AS mix
        |FROM agg GROUP BY 1 ORDER BY depth""".stripMargin)
    },

    // SQL3: the transactional tier driven through the SQL frontend — the
    // engine's DELETE and time travel reachable as STATEMENTS, not just
    // API calls. v1 = init; v2 = `DELETE FROM txlog.... WHERE ...` (the
    // copy-on-write transactional delete); the result then reads BOTH
    // versions via SQL — v1 pinned `VERSION AS OF`, v2 resolved
    // `TIMESTAMP AS OF` through the manifests' exact commit-time
    // headers. The oracle restates each version's table from the
    // immutable source, so a hash match certifies that the SQL path hits
    // the same snapshot-isolated versions as the API path.
    // STATS1: the ANALYZE TABLE surface under the differential gate —
    // stats land as kv properties in one metadata commit and read back
    // via DESCRIBE STATS. nulls/min/max are EXACT and hash-compared;
    // NDV is the HLL estimate every engine's ANALYZE stores (exact NDV
    // at 100 TB is a full shuffle per column), so it is certified as a
    // tolerance VERDICT against the exact count (the a11/a12 pattern:
    // deterministic per dataset — same hashes, same estimate — so the
    // boolean is stable, not flaky).
    QueryDef("stats1_analyze",
      """SELECT 'doc_id' AS col_name,
        |       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |       CAST(min(doc_id) AS VARCHAR) AS vmin,
        |       CAST(max(doc_id) AS VARCHAR) AS vmax,
        |       TRUE AS ndv_close
        |FROM documents
        |UNION ALL
        |SELECT 'lang',
        |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       min(lang), max(lang), TRUE
        |FROM documents
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      val root = TxLog.freshRoot(dir, "txlog-analyze")
      TxLog.init(s, root,
        Tables.documents(s, dir).select("doc_id", "text", "lang"))
      TxSql.sql(s, s"ANALYZE TABLE txlog.`$root` COMPUTE STATISTICS " +
        "FOR COLUMNS doc_id, lang")
      val exact = Tables.documents(s, dir).agg(
        count_distinct(col("doc_id")).as("x_doc_id"),
        count_distinct(col("lang")).as("x_lang")).head()
      import s.implicits._
      val exactDf = Seq(("doc_id", exact.getAs[Long]("x_doc_id")),
        ("lang", exact.getAs[Long]("x_lang"))).toDF("col_name", "x")
      TxSql.sql(s, s"DESCRIBE STATS txlog.`$root`")
        .withColumnRenamed("column", "col_name")
        .join(exactDf, "col_name")
        .select(col("col_name"), col("nulls"), col("vmin"), col("vmax"),
          (abs(col("ndv") - col("x")) <=
            greatest(lit(1L), (col("x") / 10))).as("ndv_close"))
        .orderBy("col_name")
    },

    // STATS2: the CONSUMER of stats1's storage — a dim-fact join through
    // the SQL frontend where the txlog dim was ANALYZEd, so the frontend
    // sizes it from the stored exact row count and plans the join
    // broadcast (SqlSurfaceSpec pins the plan flip both ways: fresh
    // stats → BroadcastHashJoin, data-staled stats → no hint). The
    // oracle certifies the joined RESULTS over the same source rows —
    // the stats path must never change answers, only plans.
    QueryDef("stats2_stats_broadcast_join",
      """SELECT s.s_nationkey AS nation,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY s.s_nationkey
        |ORDER BY nation""".stripMargin) { (s, dir) =>
      val root = TxLog.freshRoot(dir, "txlog-statsbc")
      TxLog.init(s, root, Tables.supplier(s, dir))
      TxSql.sql(s, s"ANALYZE TABLE txlog.`$root` COMPUTE STATISTICS")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      TxSql.sql(s,
        s"""SELECT s.s_nationkey AS nation,
           |       CAST(count(*) AS BIGINT) AS n_items,
           |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ck
           |FROM lineitem l JOIN txlog.`$root` s ON l.l_suppkey = s.s_suppkey
           |GROUP BY s.s_nationkey
           |ORDER BY nation""".stripMargin)
    },

    QueryDef("sql3_txlog_sql",
      """WITH survivors AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck
        |FROM documents
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT)
        |FROM survivors
        |ORDER BY version""".stripMargin) { (s, dir) =>
      val root = TxLog.freshRoot(dir, "txlog-sql")
      TxLog.init(s, root, Tables.documents(s, dir).select("doc_id", "text")) // v1
      val del = TxSql.sql(s, s"DELETE FROM txlog.`$root` WHERE doc_id % 13 = 0")
      require(del.head.getLong(0) == 2L, "SQL DELETE did not publish version 2")
      val now = System.currentTimeMillis()
      TxSql.sql(s,
        s"""SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum((doc_id + 1) * octet_length(text)) AS BIGINT) AS ck
           |FROM txlog.`$root` VERSION AS OF 1
           |UNION ALL
           |SELECT 2, CAST(count(*) AS BIGINT),
           |       CAST(sum((doc_id + 1) * octet_length(text)) AS BIGINT)
           |FROM txlog.`$root` TIMESTAMP AS OF $now
           |ORDER BY version""".stripMargin)
    },

    // SQL5: the INGEST lifecycle as STATEMENTS — CREATE TABLE AS SELECT
    // (v1), INSERT INTO (v2, transactional append with stage-once CAS
    // retries), INSERT OVERWRITE (v3, data replace with the metadata
    // life carried). The after-insert checksum certifies the append
    // landed exactly; the final state certifies the overwrite replaced
    // everything; the version columns certify the statements chained
    // 1→2→3 (CREATE refuses existing, INSERT refuses missing — the loud
    // contracts are spec-pinned in TxSqlSpec).
    QueryDef("sql5_sql_ingest",
      """WITH ins AS (SELECT doc_id, text FROM documents),
        |fin AS (SELECT doc_id, 'O:' || text AS text FROM documents
        |        WHERE doc_id % 5 = 0)
        |SELECT CAST((SELECT count(*) FROM ins) AS BIGINT) AS n_after_insert,
        |       CAST((SELECT sum((doc_id + 1) * octet_length(encode(text)))
        |             FROM ins) AS BIGINT) AS ck_after_insert,
        |       CAST(count(*) AS BIGINT) AS n_final,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck_final,
        |       1 AS created_v, 2 AS insert_v, 3 AS overwrite_v
        |FROM fin""".stripMargin) { (s, dir) =>
      val root = TxLog.freshRoot(dir, "sql-ingest")
      val docs = s"$dir/documents.parquet"
      val v1 = TxSql.sql(s, s"CREATE TABLE txlog.`$root` AS " +
        s"SELECT doc_id, text FROM parquet.`$docs` WHERE doc_id % 2 = 0")
        .head.getLong(0)
      val v2 = TxSql.sql(s, s"INSERT INTO txlog.`$root` " +
        s"SELECT doc_id, text FROM parquet.`$docs` WHERE doc_id % 2 = 1")
        .head.getLong(0)
      val ai = TxLog.read(s, root)
        .agg(count(lit(1)).cast("long"),
          sum((col("doc_id") + 1) * length(col("text").cast("binary")))
            .cast("long")).head()
      val v3 = TxSql.sql(s, s"INSERT OVERWRITE txlog.`$root` " +
        s"SELECT doc_id, 'O:' || text AS text FROM parquet.`$docs` " +
        "WHERE doc_id % 5 = 0").head.getLong(0)
      TxLog.read(s, root)
        .agg(count(lit(1)).cast("long").as("n_final"),
          sum((col("doc_id") + 1) * length(col("text").cast("binary")))
            .cast("long").as("ck_final"))
        .select(lit(ai.getLong(0)).as("n_after_insert"),
          lit(ai.getLong(1)).as("ck_after_insert"),
          col("n_final"), col("ck_final"),
          lit(v1.toInt).as("created_v"), lit(v2.toInt).as("insert_v"),
          lit(v3.toInt).as("overwrite_v"))
    },

    // SQL4: the full DML surface as STATEMENTS — UPDATE (copy-on-write,
    // assignments against the original row), MERGE shorthand (keyed
    // last-write-wins upsert, Delta's UPDATE SET * / INSERT * shape)
    // whose USING subquery TIME TRAVELS into version 1 of the very table
    // being merged — the self-referential backfill shape — and, as v4,
    // the FULL CONDITIONAL MERGE: WHEN MATCHED AND … THEN UPDATE,
    // WHEN MATCHED THEN DELETE, WHEN NOT MATCHED AND … THEN INSERT *,
    // WHEN NOT MATCHED BY SOURCE AND … THEN DELETE (the reconciliation
    // shape), all in one statement. The oracle restates v1..v4 from the
    // immutable source (the conditional merge CTE-restated per clause);
    // a hash match certifies statement semantics AND that the DML
    // versions chain correctly (each derives from its parent).
    QueryDef("sql4_txlog_dml",
      """WITH base AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN md5(text) ELSE text END AS text
        |       FROM base),
        |src AS (SELECT doc_id, 'R' || CAST(doc_id AS VARCHAR) AS text
        |        FROM base WHERE doc_id % 7 = 0
        |        UNION ALL
        |        SELECT doc_id + 1000000, 'M' || CAST(doc_id AS VARCHAR)
        |        FROM base WHERE doc_id < 30),
        |v3 AS (SELECT doc_id, text FROM v2
        |       WHERE doc_id NOT IN (SELECT doc_id FROM src)
        |       UNION ALL SELECT doc_id, text FROM src),
        |v4 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 AND doc_id < 1000000 AND doc_id % 2 = 0
        |              THEN 'C' || CAST(doc_id AS VARCHAR) ELSE text END AS text
        |       FROM v3
        |       WHERE NOT (doc_id % 5 = 0 AND doc_id < 1000000 AND doc_id % 2 <> 0)
        |         AND NOT (NOT (doc_id % 5 = 0 AND doc_id < 1000000)
        |                  AND doc_id % 9 = 1)
        |       UNION ALL
        |       SELECT doc_id + 2000000, 'N' || CAST(doc_id AS VARCHAR)
        |       FROM base WHERE doc_id < 40 AND (doc_id + 2000000) % 3 = 0),
        |v5 AS (SELECT doc_id, text FROM v4
        |       UNION ALL
        |       SELECT doc_id + 3000000,
        |              CASE WHEN doc_id % 2 = 0 THEN NULL
        |                   ELSE 'I' || CAST(doc_id + 3000000 AS VARCHAR) END
        |       FROM base WHERE doc_id < 25),
        |e6 AS (SELECT doc_id, 'E' || CAST(doc_id AS VARCHAR) AS text,
        |              CAST(doc_id % 100 AS BIGINT) AS score
        |       FROM base WHERE doc_id % 11 = 0),
        |v6 AS (SELECT doc_id, text, CAST(NULL AS BIGINT) AS score FROM v5
        |       WHERE doc_id NOT IN (SELECT doc_id FROM e6)
        |       UNION ALL SELECT doc_id, text, score FROM e6)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck
        |FROM base
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT)
        |FROM v2
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT)
        |FROM v3
        |UNION ALL
        |SELECT 4, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT)
        |FROM v4
        |UNION ALL
        |SELECT 5, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT)
        |FROM v5
        |UNION ALL
        |SELECT 6, CAST(count(*) AS BIGINT),
        |       CAST(sum((doc_id + 1) *
        |                (octet_length(encode(text)) + coalesce(score, 0)))
        |            AS BIGINT)
        |FROM v6
        |ORDER BY version""".stripMargin) { (s, dir) =>
      val root = TxLog.freshRoot(dir, "txlog-dml")
      TxLog.init(s, root, Tables.documents(s, dir).select("doc_id", "text")) // v1
      val up = TxSql.sql(s,
        s"UPDATE txlog.`$root` SET text = md5(text) WHERE doc_id % 10 = 0")
      require(up.head.getLong(0) == 2L, "SQL UPDATE did not publish version 2")
      val mg = TxSql.sql(s,
        s"""MERGE INTO txlog.`$root` USING (
           |  SELECT doc_id, 'R' || CAST(doc_id AS STRING) AS text
           |  FROM txlog.`$root` VERSION AS OF 1 WHERE doc_id % 7 = 0
           |  UNION ALL
           |  SELECT doc_id + 1000000, 'M' || CAST(doc_id AS STRING)
           |  FROM txlog.`$root` VERSION AS OF 1 WHERE doc_id < 30
           |) ON doc_id""".stripMargin)
      require(mg.head.getLong(0) == 3L, "SQL MERGE did not publish version 3")
      val cm = TxSql.sql(s,
        s"""MERGE INTO txlog.`$root` USING (
           |  SELECT doc_id, 'C' || CAST(doc_id AS STRING) AS text
           |  FROM txlog.`$root` VERSION AS OF 1 WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000, 'N' || CAST(doc_id AS STRING)
           |  FROM txlog.`$root` VERSION AS OF 1 WHERE doc_id < 40
           |) s ON doc_id
           |WHEN MATCHED AND doc_id % 2 = 0 THEN UPDATE SET text = s.text
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED AND s.doc_id % 3 = 0 THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND doc_id % 9 = 1 THEN DELETE""".stripMargin)
      require(cm.head.getLong(0) == 4L,
        "conditional MERGE did not publish version 4")
      // v5: the column-list INSERT form — `INSERT (cols) VALUES (exprs)`
      // with target-type casts; clause order picks the first matching
      // NOT-MATCHED clause, and an un-listed column defaults to NULL
      // (the standard-SQL defaulted-column shape)
      val il = TxSql.sql(s,
        s"""MERGE INTO txlog.`$root` USING (
           |  SELECT doc_id + 3000000 AS doc_id
           |  FROM txlog.`$root` VERSION AS OF 1 WHERE doc_id < 25
           |) s ON doc_id
           |WHEN NOT MATCHED AND s.doc_id % 2 = 0
           |  THEN INSERT (doc_id) VALUES (s.doc_id)
           |WHEN NOT MATCHED
           |  THEN INSERT (doc_id, text)
           |       VALUES (s.doc_id, 'I' || CAST(s.doc_id AS STRING))""".stripMargin)
      require(il.head.getLong(0) == 5L,
        "column-list INSERT MERGE did not publish version 5")
      // v6: MERGE WITH SCHEMA EVOLUTION — the source carries a column
      // the target lacks (`score`); the opt-in widens the schema in the
      // same commit: matched rows take text+score from the source,
      // not-matched insert whole, every untouched row surfaces score
      // as NULL (evolve-on-read over the carried files)
      val ev = TxSql.sql(s,
        s"""MERGE WITH SCHEMA EVOLUTION INTO txlog.`$root` USING (
           |  SELECT doc_id, 'E' || CAST(doc_id AS STRING) AS text,
           |         CAST(doc_id % 100 AS BIGINT) AS score
           |  FROM txlog.`$root` VERSION AS OF 1 WHERE doc_id % 11 = 0
           |) s ON doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(ev.head.getLong(0) == 6L,
        "schema-evolving MERGE did not publish version 6")
      (1 to 5).map { v =>
        TxSql.sql(s,
          s"""SELECT $v AS version, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum((doc_id + 1) * octet_length(text)) AS BIGINT) AS ck
             |FROM txlog.`$root` VERSION AS OF $v""".stripMargin)
      }.reduce(_ unionByName _)
        .unionByName(TxSql.sql(s,
          s"""SELECT 6 AS version, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum((doc_id + 1) *
             |                (octet_length(text) + coalesce(score, 0)))
             |            AS BIGINT) AS ck
             |FROM txlog.`$root` VERSION AS OF 6""".stripMargin))
        .orderBy("version")
    }
  )
}
