package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.Predicates
import graft.ktk.{DatasetMetadata, Ktk, Sidecars}

/** Minimal CLI (≙ kartothek/cli: info / query / index / delete / cleanup /
  * copy).
  *
  * {{{
  *   runMain graft.tools.Cli info    <base> <uuid>
  *   runMain graft.tools.Cli query   <base> <uuid> "<col op value & ...>" [limit]
  *   runMain graft.tools.Cli shell   <base> <uuid>     # interactive query REPL
  *   runMain graft.tools.Cli index   <base> <uuid> <column>
  *   runMain graft.tools.Cli bloom   <base> <uuid> <column>
  *   runMain graft.tools.Cli zonemap <base> <uuid> <column> [column ...]
  *   runMain graft.tools.Cli fsck    <base> <uuid>     # read-only integrity audit
  *   runMain graft.tools.Cli salvage <base> <uuid> [--dry-run] [--accept-resurrection]
  *   runMain graft.tools.Cli cleanup <base> <uuid>
  *   runMain graft.tools.Cli compact <base> <uuid>
  *   runMain graft.tools.Cli optimize <base> <uuid> [gcRetainVersions]
  *   runMain graft.tools.Cli versions <base> <uuid>
  *   runMain graft.tools.Cli history  <base> <uuid> [limit]
  *   runMain graft.tools.Cli asof     <base> <uuid> <version> ["<cond>"] [limit]
  *   runMain graft.tools.Cli rollback <base> <uuid> <version>
  *   runMain graft.tools.Cli delete  <base> <uuid>
  *   runMain graft.tools.Cli delete-rows <base> <uuid> "<col op value & ...>"
  *   runMain graft.tools.Cli update-rows <base> <uuid> "<sql cond>" "col=expr[, col=expr...]"
  *   runMain graft.tools.Cli materialize <base> <uuid>  # rewrite DV-touched files
  *   runMain graft.tools.Cli changes <base> <uuid> <fromVersion> [toVersion] [limit]
  *   runMain graft.tools.Cli mirror  <base> <uuid> <dstBase> <dstUuid> <keys,csv> <checkpoint> [maxVersionsPerPoll]
  *   runMain graft.tools.Cli constraint <base> <uuid> add <name> "<sql>" | drop <name> | list
  *   runMain graft.tools.Cli list    <base>
  *   runMain graft.tools.Cli copy    <base> <uuid> <toUuid>
  * }}}
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Cli <info|query|index|cleanup|delete|list> ...")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .appName("graft-cli").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "list" =>
      DatasetMetadata.listDatasets(spark, args(1)).foreach(println)
    case "asof" =>
      // time travel: query the dataset as of a commit version
      val preds = if (args.length > 4 && args(4).nonEmpty) Predicates.parse(args(4)) else Predicates.empty
      val limit = if (args.length > 5) args(5).toInt else 20
      Ktk.readTableAsOf(spark, args(1), args(2), args(3).toLong, predicates = preds)
        .show(limit, truncate = false)
    case "versions" =>
      val cur = DatasetMetadata.load(spark, args(1), args(2)).version
      Ktk.listVersions(spark, args(1), args(2)).foreach { v =>
        println(if (v == cur) s"v$v (current)" else s"v$v")
      }
    case "rollback" =>
      val md = Ktk.rollback(spark, args(1), args(2), args(3).toLong)
      println(s"restored content of v${args(3)} as new version v${md.version}")
    case "info" =>
      val md = DatasetMetadata.load(spark, args(1), args(2))
      println(s"uuid: ${md.uuid}")
      println(s"version: ${md.version} (${Ktk.listVersions(spark, args(1), args(2)).size} snapshots)")
      println(s"partition keys: ${md.partitionKeys.mkString(", ")}")
      println(s"partitions: ${md.partitions.size}")
      Sidecars.kinds.foreach(k => println(s"${k.dir}: ${k.registry(md).keys.toSeq.sorted.mkString(", ")}"))
      println(s"sidecar fragments (max): ${Ktk.sidecarFragments(spark, args(1), args(2))}")
      println(s"schema:\n${md.schema.treeString}")
    case "query" =>
      val preds = if (args.length > 3 && args(3).nonEmpty) Predicates.parse(args(3)) else Predicates.empty
      val limit = if (args.length > 4) args(4).toInt else 20
      Ktk.readTable(spark, args(1), args(2), predicates = preds).show(limit, truncate = false)
    case "shell" =>
      // a real TTY gets a JLine prompt with live tab-completion (the
      // prompt-toolkit experience of cli/_query.py:118-151); pipes and
      // scripts keep the plain line protocol — KtkSurfaceSpec's scripted
      // runs never construct a terminal
      if (System.console() != null) {
        val (rl, closeTerminal) = jlineReader(spark, args(1), args(2))
        // close in a finally so a 'quit'/'exit' leave (not just EOF/Ctrl-C)
        // restores the terminal's raw-mode attributes too
        try shell(spark, args(1), args(2),
          new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
          System.out, lineReader = Some(rl))
        finally closeTerminal()
      } else
        shell(spark, args(1), args(2),
          new java.io.BufferedReader(new java.io.InputStreamReader(System.in)), System.out)
    case "index" =>
      Ktk.addIndex(spark, args(1), args(2), args(3))
      println(s"indexed ${args(3)}")
    case "bloom" =>
      Ktk.addBloom(spark, args(1), args(2), args(3))
      println(s"bloom sidecar built for ${args(3)}")
    case "zonemap" =>
      Ktk.addZoneMaps(spark, args(1), args(2), args.drop(3).toSeq)
      println(s"zone maps computed for ${args.drop(3).mkString(", ")}")
    case "stats" =>
      Ktk.parquetStats(spark, args(1), args(2)).show(100, truncate = false)
    case "fsck" =>
      val issues = Ktk.fsck(spark, args(1), args(2))
      if (issues.isEmpty) println("clean: every retained commit's references exist")
      else issues.show(1000, truncate = false)
    case "salvage" =>
      val acceptResurrection = args.contains("--accept-resurrection")
      val dry = args.contains("--dry-run")
      // the bounded report form: a storage incident must not stream a
      // million damage lines through the terminal (full count reported)
      val rep = Ktk.salvageReport(spark, args(1), args(2),
        acceptResurrection = acceptResurrection, dryRun = dry)
      if (rep.droppedCount == 0) println("nothing to salvage")
      else {
        rep.dropped.foreach { case (k, p) =>
          println(s"${if (dry) "would drop" else "dropped"} $k $p") }
        if (rep.truncated)
          println(s"... ${rep.droppedCount} references total " +
            s"(listing the first ${rep.dropped.size})")
      }
    case "cleanup" =>
      val dry = args.length > 3 && args(3) == "--dry-run"
      // bounded report form, like salvage: counts always full, listing
      // capped — a million-orphan reap prints a count, not a million
      // terminal lines
      val rep = Ktk.garbageCollectReport(spark, args(1), args(2), dryRun = dry)
      rep.reclaimed.foreach(k =>
        println(s"${if (dry) "would delete" else "deleted"} $k"))
      if (rep.truncated)
        println(s"... ${rep.reclaimedCount} paths total " +
          s"(listing the first ${rep.reclaimed.size})")
    case "compact" =>
      // optional 4th arg: condition string restricting the scope to
      // matching partitions ("p == a, q > 3")
      val scope = if (args.length > 3) graft.core.Predicates.parse(args(3))
                  else graft.core.Predicates.empty
      val md = Ktk.compact(spark, args(1), args(2), scope = scope)
      println(s"compacted to ${md.partitions.size} files (run cleanup to drop the old ones)")
    case "optimize" =>
      // compact + materialize deletes (+ gc when a retention is given)
      val retain = if (args.length > 3) args(3).toInt else -1
      val md = Ktk.optimize(spark, args(1), args(2), gcRetainVersions = retain)
      println(s"optimized: ${md.partitions.size} files, " +
        s"${md.deleteFragments.size} delete fragment(s)" +
        (if (retain >= 0) s", gc kept $retain version(s) of history" else ""))
    case "delete" =>
      DatasetMetadata.delete(spark, args(1), args(2))
      println(s"deleted dataset ${args(2)}")
    case "delete-rows" =>
      // row-level DELETE via deletion vectors (no file rewrite)
      val (md, n) = Ktk.deleteRows(spark, args(1), args(2),
        predicates = Predicates.parse(args(3)))
      println(s"deleted $n row(s); ${md.deleteFragments.size} deletion-vector " +
        "fragment(s) pending (run materialize or compact to drop them physically)")
    case "update-rows" =>
      // row-level UPDATE (merge-on-read): "col=expr, col2=expr2" SET list,
      // exprs are Spark SQL and may reference the row's old values.
      // Split on top-level commas only (no paren/quote nesting tracking
      // beyond parens — good enough for CLI use).
      val sets = splitAssignments(args(4)).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"bad SET assignment: '$a' (want col=expr)")
        a.take(i).trim -> org.apache.spark.sql.functions.expr(a.drop(i + 1).trim)
      }.toMap
      val (mdU, nU) = Ktk.updateRows(spark, args(1), args(2),
        set = sets, filterQuery = Some(args(3)))
      println(s"updated $nU row(s); dataset at version ${mdU.version}")
    case "materialize" =>
      val scopeM = if (args.length > 3) graft.core.Predicates.parse(args(3))
                   else graft.core.Predicates.empty
      val md = Ktk.materializeDeletes(spark, args(1), args(2), scope = scopeM)
      println(s"materialized row-level deletes; ${md.partitions.size} files, " +
        s"${md.deleteFragments.size} fragment(s) remain (run cleanup to drop old files)")
    case "constraint" =>
      // constraint <base> <uuid> add <name> "<sql expr>" | drop <name> | list
      args(3) match {
        case "add" =>
          Ktk.addCheckConstraint(spark, args(1), args(2), args(4), args(5))
          println(s"added CHECK constraint ${args(4)}: ${args(5)}")
        case "drop" =>
          Ktk.dropConstraint(spark, args(1), args(2), args(4))
          println(s"dropped constraint ${args(4)}")
        case "list" =>
          Ktk.constraints(DatasetMetadata.load(spark, args(1), args(2)))
            .toSeq.sortBy(_._1).foreach { case (n, e) => println(s"$n: CHECK ($e)") }
        case other => throw new IllegalArgumentException(s"constraint: unknown verb $other")
      }
    case "add-columns" =>
      // additive schema evolution without data: add-columns <base> <uuid> "name type,..."
      val fields = args(3).split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { spec =>
        val Array(n, t) = spec.split("\\s+", 2)
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t))
      }
      val md = Ktk.addColumns(spark, args(1), args(2), fields)
      println(s"added ${fields.size} column(s); schema is now " +
        md.schema.fieldNames.mkString(", "))
    case "set-props" =>
      // set-props <base> <uuid> set k=v[,k=v...] | unset k[,k...]
      val md = args(3) match {
        case "set" => Ktk.setTableProperties(spark, args(1), args(2),
          set = args(4).split(',').map(_.trim).filter(_.nonEmpty)
            .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
        case "unset" => Ktk.setTableProperties(spark, args(1), args(2),
          unset = args(4).split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        case other => throw new IllegalArgumentException(s"set-props: unknown verb $other")
      }
      md.metadata.filterNot(_._1.startsWith("graft.")).toSeq.sortBy(_._1)
        .foreach { case (k, v) => println(s"$k = $v") }
    case "history" =>
      // DESCRIBE HISTORY analog: one row per surviving commit
      Ktk.history(spark, args(1), args(2))
        .show(if (args.length > 3) args(3).toInt else 50, truncate = false)
    case "changes" =>
      // batch CDC: row-level inserts/deletes in (from, to]
      val to = if (args.length > 4) args(4).toLong else -1L
      Ktk.readChangeFeed(spark, args(1), args(2), args(3).toLong, to)
        .show(if (args.length > 5) args(5).toInt else 20, truncate = false)
    case "mirror" =>
      // incremental CDC poller: drain the upstream change feed into a
      // downstream mirror in bounded batches (rollbacks re-seed)
      val maxPer = if (args.length > 7) args(7).toInt else 100
      var total = 0L
      var n = -1L
      while (n != 0L) {
        n = Ktk.mirrorChanges(spark, args(1), args(2), args(3), args(4),
          args(5).split(',').toSeq, args(6), maxVersionsPerPoll = maxPer)
        total += n
      }
      println(s"mirrored $total version(s) of ${args(2)} into ${args(4)}")
    case "copy" =>
      // ≙ `kartothek copy` (kartothek/cli/_copy.py): clone files + metadata
      Ktk.copyDataset(spark, args(1), args(2), args(3))
      println(s"copied dataset ${args(2)} -> ${args(3)}")
    case other => throw new IllegalArgumentException(s"unknown command: $other")
  }

  /** Interactive query shell (≙ `kartothek query`, cli/_query.py:24-151 —
    * the prompt-toolkit loop asking conditions then payload columns, re-run
    * until quit). Line protocol, so it scripts over any stdin/stdout:
    *
    * {{{
    *   <col op value & ...>   set conditions AND run immediately
    *   cond [expr]            set (or with no arg, clear) conditions
    *   cols [a,b,...|__all__] set (or clear) payload columns
    *   complete cond|cols [t] completion candidates for a partial input
    *                          (≙ the prompt-toolkit WordCompleters: columns
    *                          for conditions, columns + __all__ for payload)
    *   limit N                rows to print (default 20)
    *   run                    execute the current query
    *   schema | info | help   introspection
    *   quit | exit | EOF      leave
    * }}}
    *
    * Errors (bad condition syntax, unknown columns) print and the loop
    * continues — the reference validates interactively the same way.
    */
  /** Completion candidates shared by the scripted `complete` verb and the
    * JLine TTY completer (≙ the prompt-toolkit WordCompleters,
    * cli/_query.py:118-151): conditions complete the word under the cursor
    * against sorted columns; payload columns against sorted columns +
    * `__all__`.
    */
  private[graft] def completionCandidates(
      fields: Seq[String], ctx: String, last: String): Seq[String] = {
    val words = fields.sorted ++ (if (ctx == "cols") Seq("__all__") else Nil)
    words.filter(_.startsWith(last))
  }

  /** Condition-string operators after which the next token is a VALUE. */
  private val CondOps = Set("==", "!=", "<", "<=", ">", ">=", "in")

  /** Index-backed VALUE candidates for a condition's value position
    * (`cond col == <Tab>`) — the prompt-toolkit reference completes values
    * from the dataset's secondary indices the same way (cli/_query.py:
    * 118-151). Only columns WITH an index offer candidates (an unindexed
    * column would need a data scan per keystroke); the distinct-value
    * frame collects once per column per shell session, capped so a
    * high-cardinality index cannot flood the driver or the prompt.
    */
  private[graft] def valueCandidates(
      spark: SparkSession, base: String, md: DatasetMetadata,
      cache: scala.collection.mutable.Map[String, Seq[String]],
      column: String, prefix: String): Seq[String] =
    if (!md.indices.contains(column)) Nil
    else cache.getOrElseUpdate(column, {
      import org.apache.spark.sql.functions.col
      Ktk.observedValues(spark, base, md, column)
        .select(col("value").cast("string")).na.drop()
        .orderBy("value").limit(256)
        .collect().map(_.getString(0)).toSeq
    }).filter(_.startsWith(prefix)).take(32)

  /** Completion dispatch for a condition context: tokens before the word
    * under the cursor decide column vs value position. Shared by the
    * scripted `complete cond …` verb and the JLine completer so TTY and
    * scripted candidates cannot diverge.
    */
  private[graft] def condCandidates(
      spark: SparkSession, base: String, md: DatasetMetadata,
      cache: scala.collection.mutable.Map[String, Seq[String]],
      prior: Seq[String], last: String): Seq[String] = {
    val fields = md.schema.fieldNames.toSeq
    prior.lastOption match {
      // `col op <Tab>` / `col op par<Tab>`: value position
      case Some(op) if CondOps.contains(op) && prior.size >= 2 &&
          fields.contains(prior(prior.size - 2)) =>
        valueCandidates(spark, base, md, cache, prior(prior.size - 2), last)
      case _ => completionCandidates(fields, "cond", last)
    }
  }

  /** A JLine-backed `readLine` for [[shell]] when stdin is a real TTY:
    * tab completes the first word against the shell's command verbs, a
    * `cols` line against columns + `__all__`, anything else (conditions,
    * `cond`, `complete` partials) against columns — and a condition VALUE
    * position (`col == <Tab>`) against the column's secondary-index values
    * when one exists. EOF / Ctrl-C return null, matching
    * BufferedReader.readLine's end-of-session signal. Returns the reader
    * plus a close handle: the caller must close in a `finally` so a `quit`
    * exit restores terminal attributes too, not just EOF/Ctrl-C.
    */
  private def jlineReader(
      spark: SparkSession, base: String, uuid: String): (String => String, () => Unit) = {
    import org.jline.reader.{Candidate, EndOfFileException, LineReader,
      LineReaderBuilder, ParsedLine, UserInterruptException}
    import org.jline.terminal.TerminalBuilder
    val md = DatasetMetadata.load(spark, base, uuid)
    val fields = md.schema.fieldNames.toSeq
    val valueCache = scala.collection.mutable.Map.empty[String, Seq[String]]
    val verbs = Seq("cond", "cols", "complete", "limit", "run", "schema",
      "info", "help", "quit", "exit")
    val completer = new org.jline.reader.Completer {
      override def complete(reader: LineReader, line: ParsedLine,
          candidates: java.util.List[Candidate]): Unit = {
        val words =
          if (line.wordIndex == 0) verbs.sorted.filter(_.startsWith(line.word()))
          else if (line.words().get(0) == "cols") {
            // a cols list is comma-separated: complete the tail segment
            val last = line.word().split(",", -1).last
            completionCandidates(fields, "cols", last)
              .map(c => line.word().dropRight(last.length) + c)
          } else {
            // condition context: tokens before the cursor word decide
            // column vs value position (`col == <Tab>` completes the
            // column's INDEXED VALUES, like the reference prompt)
            import scala.jdk.CollectionConverters._
            val prior = line.words().asScala.toSeq
              .take(line.wordIndex).filter(_.nonEmpty)
              .filterNot(w => w == "cond" || w == "complete")
            condCandidates(spark, base, md, valueCache, prior, line.word())
          }
        words.foreach(w => candidates.add(new Candidate(w)))
      }
    }
    val terminal = TerminalBuilder.builder().system(true).build()
    val reader = LineReaderBuilder.builder()
      .terminal(terminal).completer(completer).build()
    val readLine: String => String = prompt =>
      try reader.readLine(prompt)
      catch {
        case _: EndOfFileException | _: UserInterruptException => null
      }
    (readLine, () => terminal.close())
  }

  def shell(spark: SparkSession, base: String, uuid: String,
      input: java.io.BufferedReader, out: java.io.PrintStream,
      lineReader: Option[String => String] = None): Unit = {
    val md = DatasetMetadata.load(spark, base, uuid)
    val valueCache = scala.collection.mutable.Map.empty[String, Seq[String]]
    out.println(s"dataset ${md.uuid}: ${md.partitions.size} partitions, " +
      s"columns: ${md.schema.fieldNames.mkString(", ")}")
    out.println("type a condition (e.g. x > 3 & tag == a), 'help', or 'quit'")
    var conds = Predicates.empty
    var condStr = "none"
    var cols: Seq[String] = Nil
    var limit = 20
    def runQuery(): Unit = {
      val df = Ktk.readTable(spark, base, uuid, columns = cols, predicates = conds)
      val shown = df.limit(limit).collect()
      out.println(df.columns.mkString(" | "))
      shown.foreach(r => out.println(r.toSeq.map(v => if (v == null) "null" else v.toString).mkString(" | ")))
      out.println(s"(${shown.length} rows, limit $limit, conditions: $condStr, " +
        s"columns: ${if (cols.isEmpty) "all" else cols.mkString(",")})")
    }
    // JLine renders its own prompt; the scripted path prints it explicitly
    val nextLine: () => String = lineReader match {
      case Some(rl) => () => rl("graft> ")
      case None => () => { out.print("graft> "); out.flush(); input.readLine() }
    }
    var done = false
    while (!done) {
      val line = nextLine()
      if (line == null) done = true
      else try {
        val t = line.trim
        val (cmd, rest) = t.split("\\s+", 2) match {
          case Array(c, r) => (c, r.trim)
          case Array(c)    => (c, "")
        }
        cmd match {
          case "" => ()
          case "quit" | "exit" => done = true
          case "help" =>
            out.println("commands: <condition> | cond [expr] | cols [a,b,...|__all__] | " +
              "complete cond|cols [partial] | limit N | run | schema | info | quit")
          case "schema" => out.println(md.schema.treeString)
          case "info" =>
            out.println(s"uuid: ${md.uuid}")
            out.println(s"partition keys: ${md.partitionKeys.mkString(", ")}")
            out.println(s"partitions: ${md.partitions.size}")
            out.println(s"indices: ${md.indices.keys.toSeq.sorted.mkString(", ")}")
          case "cond" =>
            conds = if (rest.isEmpty) Predicates.empty else Predicates.parse(rest)
            condStr = if (rest.isEmpty) "none" else rest
            out.println(s"conditions: $condStr")
          case "cols" =>
            // `__all__` ≙ the reference payload prompt's keyword for "every
            // column" (cli/_query.py:103-118). Validate BEFORE assigning so
            // a rejected input leaves the session's selection untouched.
            val next = if (rest == "__all__") Nil
                       else rest.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val missing = next.filterNot(md.schema.fieldNames.contains)
            require(missing.isEmpty, s"unknown columns: ${missing.mkString(",")}")
            cols = next
            out.println(s"columns: ${if (cols.isEmpty) "all" else cols.mkString(",")}")
          case "complete" =>
            // ≙ the prompt-toolkit WordCompleters (cli/_query.py:118-151):
            // the CONDITIONS prompt completes the word under the cursor
            // against sorted columns; the PAYLOAD prompt against sorted
            // columns + "__all__". Scripted form: complete the LAST token
            // of the partial input, one candidate per line.
            val (ctx, partial) = rest.split("\\s+", 2) match {
              case Array(c, r) => (c, r)
              case Array(c)    => (c, "")
            }
            require(ctx == "cond" || ctx == "cols",
              "usage: complete cond|cols [partial input]")
            if (ctx == "cols")
              completionCandidates(md.schema.fieldNames.toSeq, "cols",
                partial.split(",", -1).last.trim).foreach(out.println)
            else {
              // a condition's value position ('complete cond x ==' or
              // 'complete cond x == par') completes against the column's
              // secondary-index values; everything else against columns
              val toks = partial.trim.split("\\s+").toSeq.filter(_.nonEmpty)
              val (prior, last) =
                if (toks.nonEmpty && CondOps.contains(toks.last)) (toks, "")
                else (toks.dropRight(1), toks.lastOption.getOrElse(""))
              condCandidates(spark, base, md, valueCache, prior, last)
                .foreach(out.println)
            }
          case "limit" =>
            limit = rest.toInt
            out.println(s"limit: $limit")
          case "run" => runQuery()
          case _ =>
            conds = Predicates.parse(t)
            condStr = t
            runQuery()
        }
      } catch {
        case e: Exception => out.println(s"error: ${e.getMessage}")
      }
    }
    out.println("bye")
  }

  /** Split a "col=expr, col2=expr2" list on commas OUTSIDE parentheses, so
    * SET expressions like `greatest(v, coalesce(w, 0))` survive intact.
    */
  private[graft] def splitAssignments(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
