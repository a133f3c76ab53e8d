package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement, ResultSet, SQLException, Statement}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import graft.sinks.{JdbcUpsertSink, SqlBuilder}

/** Asserts the sink's bulk-tier statement shape against a recording
  * in-JVM JDBC connection (no DB in this container): a mixed batch must
  * apply as multi-row REPLACE statements following
  * `SqlBuilder.tierPlan` (reference golden style,
  * `driver/mysql/sql/builder_test.go:113`) and batched deletes — never
  * one round trip per row.
  */
object JdbcRecorder {
  /** (kind, paramGroupsInSql, rowsInBatch) per executeBatch/executeUpdate. */
  final case class Exec(sql: String, batchSize: Int)
  val events = new ConcurrentLinkedQueue[Exec]()
  def clear(): Unit = events.clear()

  private def defaultFor(t: Class[_]): AnyRef = t match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(1)
    case java.lang.Long.TYPE    => java.lang.Long.valueOf(1L)
    case java.lang.Void.TYPE    => null
    case _                      => null
  }

  private def resultSet(rows: Seq[Seq[AnyRef]]): ResultSet = {
    var idx = -1
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[ResultSet]),
      new InvocationHandler {
        override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "next" => idx += 1; java.lang.Boolean.valueOf(idx < rows.length)
          case "getLong" =>
            rows(idx)(args(0).asInstanceOf[Integer] - 1) match {
              case null => java.lang.Long.valueOf(0L)
              case v: java.lang.Long => v
              case v => java.lang.Long.valueOf(v.toString.toLong)
            }
          case "getString" =>
            rows(idx)(args(0).asInstanceOf[Integer] - 1) match {
              case null => null
              case v => v.toString
            }
          case _ => defaultFor(m.getReturnType)
        }
      }).asInstanceOf[ResultSet]
  }

  private def prepared(sql: String, query: String => Seq[Seq[AnyRef]]): PreparedStatement = {
    var batched = 0
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new InvocationHandler {
        override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "addBatch" => batched += 1; null
          case "executeBatch" =>
            events.add(Exec(sql, batched)); val n = batched; batched = 0
            Array.fill(n)(1)
          case "executeUpdate" => events.add(Exec(sql, 1)); Integer.valueOf(1)
          case "executeQuery" => resultSet(query(sql))
          case other => defaultFor(m.getReturnType)
        }
      }).asInstanceOf[PreparedStatement]
  }

  def connection(query: String => Seq[Seq[AnyRef]] = _ => Nil): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" => prepared(args(0).asInstanceOf[String], query)
          case "createStatement" =>
            Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Statement]),
              new InvocationHandler {
                override def invoke(p: Any, mm: Method, a: Array[AnyRef]): AnyRef = mm.getName match {
                  case "execute" => // plain statements (session setup, DDL) record too
                    events.add(Exec(a(0).asInstanceOf[String], 1)); java.lang.Boolean.FALSE
                  case _ => defaultFor(mm.getReturnType)
                }
              }).asInstanceOf[Statement]
          case _ => defaultFor(m.getReturnType)
        }
      }).asInstanceOf[Connection]
}

/** Commit-failure injector for the deadlock-retry tests: wraps the
  * recorder connection, throwing a deadlock (or a configured terminal
  * error) from `commit` until `failRemaining` drains. Static object so
  * executor-side closure copies share the same counters in local mode
  * (same pattern as [[JdbcRecorder.events]]).
  */
object RetryState {
  import java.util.concurrent.atomic.AtomicInteger
  val commits = new AtomicInteger
  val rollbacks = new AtomicInteger
  val opened = new AtomicInteger
  val failRemaining = new AtomicInteger
  @volatile var failure: () => SQLException =
    () => new java.sql.SQLTransactionRollbackException(
      "Deadlock found when trying to get lock; try restarting transaction", "40001", 1213)

  def reset(nFailures: Int): Unit = {
    commits.set(0); rollbacks.set(0); opened.set(0); failRemaining.set(nFailures)
    failure = () => new java.sql.SQLTransactionRollbackException(
      "Deadlock found when trying to get lock; try restarting transaction", "40001", 1213)
  }

  def connection(): Connection = {
    opened.incrementAndGet()
    val inner = JdbcRecorder.connection()
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "commit" =>
            if (failRemaining.getAndDecrement() > 0) throw failure()
            commits.incrementAndGet(); null
          case "rollback" => rollbacks.incrementAndGet(); null
          case _ =>
            if (args == null) m.invoke(inner) else m.invoke(inner, args: _*)
        }
      }).asInstanceOf[Connection]
  }
}

/** A stateful in-JVM target for the final-state tests. At commit a
  * REPLACE overwrites its key (appends, on a keyless table), a DELETE …
  * LIMIT 1 removes the first null-safe match on its where columns, and a
  * ledger insert appends its GTID; a rollback drops the attempt's
  * writes. Each connection logs its executed statements with their bound
  * parameters, so a retried transaction can be compared statement for
  * statement. Static, like [[JdbcRecorder]], so executor-side closure
  * copies share it in local mode.
  */
object StateTarget {
  import scala.collection.mutable.ArrayBuffer
  /** One executeBatch: its SQL and the parameter rows it bound. */
  type Exec = (String, Seq[Seq[AnyRef]])
  @volatile var table: SqlBuilder.TableDef = _
  val rows = ArrayBuffer.empty[Seq[AnyRef]]
  val ledger = ArrayBuffer.empty[String]
  val attempts = new ConcurrentLinkedQueue[ArrayBuffer[Exec]]()
  val failCommits = new java.util.concurrent.atomic.AtomicInteger

  def reset(t: SqlBuilder.TableDef, initial: Seq[Seq[AnyRef]], commitFailures: Int = 0): Unit =
    synchronized {
      table = t; rows.clear(); rows ++= initial; ledger.clear(); attempts.clear()
      failCommits.set(commitFailures)
    }

  private def write(sql: String, p: Seq[AnyRef]): Unit = {
    val t = table
    def matches(r: Seq[AnyRef], at: Seq[Int], vals: Seq[AnyRef]) =
      at.zip(vals).forall { case (j, v) => r(j) == v }
    if (sql.startsWith("REPLACE")) {
      val pk = t.pkColumns.map(t.columns.indexOf)
      p.grouped(t.columns.size).foreach { values =>
        if (t.hasPk) {
          val i = rows.indexWhere(r => matches(r, pk, pk.map(values)))
          if (i >= 0) rows.remove(i)
        }
        rows += values
      }
    } else if (sql.startsWith("DELETE")) {
      val where = (if (t.hasPk) t.pkColumns else t.columns).map(t.columns.indexOf)
      val i = rows.indexWhere(r => matches(r, where, p.grouped(2).map(_.head).toSeq))
      if (i >= 0) rows.remove(i)
    } else if (sql.startsWith("INSERT") && sql.contains("gtid_executed")) ledger += p(3).toString
  }

  private def proxy[T](iface: Class[T])(f: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
        f.applyOrElse((m.getName, args), (_: (String, Array[AnyRef])) => m.getReturnType match {
          case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
          case java.lang.Integer.TYPE => Integer.valueOf(0)
          case _ => null
        })
    }).asInstanceOf[T]

  def connection(): Connection = {
    val log = ArrayBuffer.empty[Exec]
    attempts.add(log)
    var pending = Vector.empty[(String, Seq[AnyRef])]
    def prepared(sql: String): PreparedStatement = {
      val params = scala.collection.mutable.TreeMap.empty[Int, AnyRef]
      val batch = ArrayBuffer.empty[Seq[AnyRef]]
      proxy(classOf[PreparedStatement]) {
        case ("setObject" | "setString" | "setLong", a) =>
          params(a(0).asInstanceOf[Integer].intValue) = a(1); null
        case ("addBatch", _) => batch += params.values.toVector; params.clear(); null
        case ("executeBatch", _) =>
          log += ((sql, batch.toVector)); pending ++= batch.map(sql -> _)
          val n = batch.size; batch.clear(); Array.fill(n)(1)
      }
    }
    proxy(classOf[Connection]) {
      case ("prepareStatement", a) => prepared(a(0).asInstanceOf[String])
      case ("createStatement", _) => proxy(classOf[Statement])(PartialFunction.empty)
      case ("commit", _) =>
        if (failCommits.getAndDecrement() > 0)
          throw new java.sql.SQLTransactionRollbackException("Deadlock found", "40001", 1213)
        StateTarget.synchronized(pending.foreach { case (sql, p) => write(sql, p) })
        pending = Vector.empty; null
      case ("rollback", _) => pending = Vector.empty; null
    }
  }
}

class JdbcUpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private val td = SqlBuilder.TableDef("db", "t", Seq("key", "v"), Seq("key"))

  /** rows-per-statement a REPLACE sql was built for = value groups. */
  private def tierOf(sql: String): Int = sql.count(_ == '(') - 1

  test("mixed 141-row batch applies as tierPlan-shaped multi-row statements") {
    JdbcRecorder.clear()
    // 141 replaces, then 5 deletes, then 3 replaces, each on its own key
    val rows =
      (1 to 141).map(i => (i.toLong, i.toLong, i.toLong, "u", s"uuid:$i")) ++
      (142 to 146).map(i => (i.toLong, i.toLong, i.toLong, "d", s"uuid:$i")) ++
      (147 to 149).map(i => (i.toLong, i.toLong, i.toLong, "u", s"uuid:$i"))
    val batch = rows.toDF("key", "v", "seq", "op", "gtid")

    val sink = new JdbcUpsertSink(() => JdbcRecorder.connection(), td,
      "job1", "ledger", numPartitions = 1)
    sink.applyBatch(batch, 0L)

    val evs = JdbcRecorder.events.toArray(Array.empty[JdbcRecorder.Exec]).toSeq
    val replaces = evs.filter(_.sql.startsWith("REPLACE"))
    val deletes = evs.filter(_.sql.startsWith("DELETE"))
    val ledger = evs.filter(_.sql.contains("gtid_executed"))

    // final state: the 5 deleted keys go out as one batch of 5, then all
    // 144 replaced keys as one run, 144 = 128 + 8 + 8
    assert(deletes.map(_.batchSize) == Seq(5))
    assert(replaces.map(e => (tierOf(e.sql), e.batchSize)) == Seq((128, 1), (8, 2)),
      s"got: ${replaces.map(e => (tierOf(e.sql), e.batchSize))}")
    assert(evs.indexWhere(_.sql.startsWith("DELETE")) < evs.indexWhere(_.sql.startsWith("REPLACE")))
    // every replace row lands exactly once
    assert(replaces.map(e => tierOf(e.sql) * e.batchSize).sum == 144)
    // ledger insert rides the same tx as one batch of all 149 gtids
    // (the ledger CREATE DDL records separately as a plain execute)
    assert(ledger.filter(_.sql.startsWith("INSERT")).map(_.batchSize) == Seq(149))
  }

  private val sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
  private def snapshot(keys: Seq[Long]): Seq[Seq[AnyRef]] =
    keys.map(k => Seq[AnyRef](java.lang.Long.valueOf(k), s"snap$k"))
  private def committed: Map[Long, String] = StateTarget.synchronized {
    assert(StateTarget.rows.map(_.head).distinct.size == StateTarget.rows.size, "one row per key")
    StateTarget.rows.map(r => r.head.asInstanceOf[java.lang.Long].longValue -> r(1).toString).toMap
  }
  /** The snapshot with every key the batch touched replaced by
    * `CdcBatch.applyChangeLog`'s final state (absent when deleted).
    */
  private def expectedState(initial: Seq[Seq[AnyRef]], rows: Seq[(Long, String, Long, String, String)]) = {
    val finals = graft.operators.CdcBatch.applyChangeLog(
      rows.toDF("key", "v", "seq", "op", "gtid"), "key", "seq", "op")
      .select("key", "v").as[(Long, String)].collect().toMap
    val touched = rows.map(_._1).toSet
    initial.map(r => r.head.asInstanceOf[java.lang.Long].longValue -> r(1).toString).toMap
      .filter { case (k, _) => !touched(k) } ++ finals
  }

  test("final-state apply of random c/u/d interleavings commits applyChangeLog's state, one ledger row per GTID") {
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { round =>
      val initial = snapshot(1L to 3L)
      StateTarget.reset(td, initial)
      // fixed prefix: snapshot key 1 deleted then re-inserted, new key 9
      // inserted then deleted; then transactions of 1-3 random ops on keys 1-5
      val prefix = Seq((1L, "d"), (1L, "c"), (9L, "c"), (9L, "d"))
      val ops = prefix.map(Seq(_)) ++ (1 to rnd.between(5, 40)).map(_ =>
        (1 to rnd.between(1, 4)).map(_ => (rnd.between(1, 6).toLong, Seq("c", "u", "d")(rnd.nextInt(3)))))
      val rows = ops.zipWithIndex.flatMap { case (tx, t) => tx.map(op => (op, t + 1)) }
        .zipWithIndex.map { case (((k, op), t), i) => (k, s"r$round-$i", i + 1L, op, s"$sid:$t") }
      new JdbcUpsertSink(() => StateTarget.connection(), td, "job1", "ledger",
        numPartitions = 1, compactThreshold = 0)
        .applyBatch(rows.toDF("key", "v", "seq", "op", "gtid"), round.toLong)
      assert(committed == expectedState(initial, rows), s"round $round: $rows")
      assert(StateTarget.ledger.sorted == rows.map(_._5).distinct.sorted, s"round $round")
    }
  }

  test("a keyless table applies its seq-ordered op runs: duplicate rows keep their order") {
    val keyless = SqlBuilder.TableDef("db", "nk", Seq("key", "v"), Nil)
    val initial = Seq(Seq[AnyRef](java.lang.Long.valueOf(1L), "a"))
    StateTarget.reset(keyless, initial)
    val ops = Seq((1L, "a", "d"), (1L, "a", "c"), (1L, "a", "c"), (1L, "a", "d"),
      (2L, "b", "c"), (2L, "b", "d"), (2L, "b", "d"), (3L, "c", "c"))
    val rows = ops.zipWithIndex.map { case ((k, v, op), i) => (k, v, i + 1L, op, s"$sid:${i + 1}") }
    new JdbcUpsertSink(() => StateTarget.connection(), keyless, "job1", "ledger",
      numPartitions = 1, compactThreshold = 0)
      .applyBatch(rows.toDF("key", "v", "seq", "op", "gtid"), 0L)
    // one-row-at-a-time replay: a delete removes one of the identical rows
    val replayed = ops.foldLeft(List((1L, "a"))) {
      case (acc, (k, v, "d")) =>
        val i = acc.indexOf((k, v)); if (i < 0) acc else acc.patch(i, Nil, 1)
      case (acc, (k, v, _)) => acc :+ ((k, v))
    }
    assert(replayed.sorted == Seq((1L, "a"), (3L, "c")))
    val got = StateTarget.rows.map(r => (r.head.asInstanceOf[java.lang.Long].longValue, r(1).toString))
    assert(got.sorted == replayed.sorted)
    val kinds = StateTarget.attempts.toArray(Array.empty[scala.collection.mutable.ArrayBuffer[StateTarget.Exec]])
      .flatMap(_.map(_._1.takeWhile(_ != ' '))).filter(_ != "INSERT").toSeq
    assert(kinds == Seq("DELETE", "REPLACE", "DELETE", "REPLACE", "DELETE", "REPLACE"))
  }

  test("a deadlock retry replays the identical statements with identical parameters") {
    val initial = snapshot(1L to 4L)
    StateTarget.reset(td, initial, commitFailures = 2)
    val rnd = new scala.util.Random(3)
    val rows = (1 to 30).map { i =>
      (rnd.between(1, 8).toLong, s"v$i", i.toLong, Seq("c", "u", "d")(rnd.nextInt(3)), s"$sid:${(i + 1) / 2}")
    }
    new JdbcUpsertSink(() => StateTarget.connection(), td, "job1", "ledger",
      numPartitions = 1, compactThreshold = 0)
      .applyBatch(rows.toDF("key", "v", "seq", "op", "gtid"), 0L)
    val tries = StateTarget.attempts.toArray(Array.empty[scala.collection.mutable.ArrayBuffer[StateTarget.Exec]])
      .toSeq.filter(_.nonEmpty)
    assert(tries.size == 3, "two deadlocks, then the commit lands")
    assert(tries.forall(_ == tries.head), tries.mkString("\n"))
    assert(Seq("DELETE", "REPLACE", "INSERT").forall(k => tries.head.exists(_._1.startsWith(k))))
    assert(committed == expectedState(initial, rows))
    assert(StateTarget.ledger.sorted == rows.map(_._5).distinct.sorted)
  }

  test("config-driven tiers and session setup reach the connection") {
    JdbcRecorder.clear()
    val rows = (1 to 100).map(i => (i.toLong, i.toLong, i.toLong, "u", s"u:$i"))
    val batch = rows.toDF("key", "v", "seq", "op", "gtid")
    val sink = new JdbcUpsertSink(() => JdbcRecorder.connection(), td,
      "job1", "ledger", numPartitions = 1,
      bulkTiers = Seq(64, 16), // config form: no terminal 1 — normalized
      sessionSetup = Seq("SET FOREIGN_KEY_CHECKS = 0"))
    sink.applyBatch(batch, 0L)
    val evs = JdbcRecorder.events.toArray(Array.empty[JdbcRecorder.Exec]).toSeq
    val replaces = evs.filter(_.sql.startsWith("REPLACE"))
    assert(replaces.map(e => (tierOf(e.sql), e.batchSize)) ==
      Seq((64, 1), (16, 2), (1, 4)),
      s"got: ${replaces.map(e => (tierOf(e.sql), e.batchSize))}")
    // the session-setup statement ran before the first REPLACE
    val idxSetup = evs.indexWhere(_.sql.contains("FOREIGN_KEY_CHECKS"))
    val idxFirst = evs.indexWhere(_.sql.startsWith("REPLACE"))
    assert(idxSetup >= 0 && idxSetup < idxFirst, evs.map(_.sql).mkString("\n"))
  }

  test("a replace run longer than the top tier flushes eagerly at 128") {
    JdbcRecorder.clear()
    val rows = (1 to 300).map(i => (i.toLong, i.toLong, i.toLong, "u", s"u:$i"))
    val batch = rows.toDF("key", "v", "seq", "op", "gtid")
    new JdbcUpsertSink(() => JdbcRecorder.connection(), td,
      "job1", "ledger", numPartitions = 1).applyBatch(batch, 0L)
    val replaces = JdbcRecorder.events.toArray(Array.empty[JdbcRecorder.Exec]).toSeq
      .filter(_.sql.startsWith("REPLACE"))
    // 300 = 128 + 128 + 44(=40+4); eager flush emits each 128 as its own
    // single-statement batch, remainder 44 -> 8x5 + 4x1
    assert(replaces.map(e => (tierOf(e.sql), e.batchSize)) ==
      Seq((128, 1), (128, 1), (8, 5), (4, 1)))
    assert(replaces.map(e => tierOf(e.sql) * e.batchSize).sum == 300)
  }

  test("the ledger CREATE runs once per sink instance, not once per batch") {
    JdbcRecorder.clear()
    val sink = new JdbcUpsertSink(() => JdbcRecorder.connection(), td,
      "job1", "ledger", numPartitions = 1)
    (0 until 3).foreach { e =>
      val rows = (1 to 4).map(i => (i.toLong, i.toLong + e, e * 10L + i, "u", s"u:$e:$i"))
      sink.applyBatch(rows.toDF("key", "v", "seq", "op", "gtid"), e.toLong)
    }
    val evs = JdbcRecorder.events.toArray(Array.empty[JdbcRecorder.Exec]).toSeq
    assert(evs.count(_.sql.startsWith("CREATE TABLE IF NOT EXISTS")) == 1,
      evs.map(_.sql).mkString("\n"))
    // every batch still writes its own ledger rows
    assert(evs.filter(_.sql.startsWith("INSERT INTO `ledger`.`gtid_executed`"))
      .map(_.batchSize) == Seq(4, 4, 4))
  }

  test("deadlocked tx rolls back and replays identically on a fresh connection") {
    JdbcRecorder.clear()
    RetryState.reset(nFailures = 2) // first two commits deadlock, third lands
    val rows = (1 to 10).map(i => (i.toLong, i.toLong, i.toLong, "u", s"u:$i"))
    new JdbcUpsertSink(() => RetryState.connection(), td,
      "job1", "ledger", numPartitions = 1, compactThreshold = 0)
      .applyBatch(rows.toDF("key", "v", "seq", "op", "gtid"), 0L)

    assert(RetryState.commits.get() == 1, "exactly one commit lands")
    assert(RetryState.rollbacks.get() == 2, "each deadlock rolls back")
    // each attempt is an exact replay: same statement shape, all 10 rows +
    // the 10-gtid ledger batch, inside every attempt's own tx
    val evs = JdbcRecorder.events.toArray(Array.empty[JdbcRecorder.Exec]).toSeq
    val replaces = evs.filter(_.sql.startsWith("REPLACE"))
    val ledger = evs.filter(_.sql.contains("gtid_executed"))
    assert(replaces.map(e => (tierOf(e.sql), e.batchSize)) ==
      Seq.fill(3)(Seq((8, 1), (1, 2))).flatten, s"got ${replaces.map(e => (tierOf(e.sql), e.batchSize))}")
    assert(ledger.filter(_.sql.startsWith("INSERT")).map(_.batchSize) == Seq(10, 10, 10))
  }

  test("retry budget exhausts at RetryTxLimit and the stream fails") {
    JdbcRecorder.clear()
    RetryState.reset(nFailures = JdbcUpsertSink.RetryTxLimit + 1)
    val rows = Seq((1L, 1L, 1L, "u", "u:1"))
    val e = intercept[Exception] {
      new JdbcUpsertSink(() => RetryState.connection(), td,
        "job1", "ledger", numPartitions = 1, compactThreshold = 0)
        .applyBatch(rows.toDF("key", "v", "seq", "op", "gtid"), 0L)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(_.isInstanceOf[java.sql.SQLTransactionRollbackException]))
    assert(RetryState.rollbacks.get() == JdbcUpsertSink.RetryTxLimit)
    assert(RetryState.commits.get() == 0)
  }

  test("a non-retryable failure fails fast: one attempt, no retry storm") {
    JdbcRecorder.clear()
    RetryState.reset(nFailures = 5)
    RetryState.failure = () =>
      new SQLException("Duplicate entry '1' for key 'PRIMARY'", "23000", 1062)
    val rows = Seq((1L, 1L, 1L, "u", "u:1"))
    intercept[Exception] {
      new JdbcUpsertSink(() => RetryState.connection(), td,
        "job1", "ledger", numPartitions = 1, compactThreshold = 0)
        .applyBatch(rows.toDF("key", "v", "seq", "op", "gtid"), 0L)
    }
    assert(RetryState.rollbacks.get() == 1)
    assert(RetryState.commits.get() == 0)
  }

  test("retryable() classifies deadlock/transient vs deterministic errors") {
    import java.sql.{SQLTransactionRollbackException, SQLTransientConnectionException}
    assert(JdbcUpsertSink.retryable(
      new SQLTransactionRollbackException("deadlock", "40001", 1213)))
    assert(JdbcUpsertSink.retryable(new SQLException("lock wait", "HY000", 1205)))
    assert(JdbcUpsertSink.retryable(new SQLTransientConnectionException("conn reset")))
    assert(!JdbcUpsertSink.retryable(new SQLException("dup key", "23000", 1062)))
    assert(!JdbcUpsertSink.retryable(new RuntimeException("npe")))
  }

  test("ledger compaction folds per-tx rows and prior interval rows into one set") {
    import graft.sinks.LedgerCompactor
    val folded = LedgerCompactor.foldRows(Seq(
      ("sid-a", 5L, null), ("sid-a", 1L, null), ("sid-a", 2L, null),
      ("sid-a", 0L, "7-9:100"), ("sid-a", 3L, null),
      ("sid-b", 10L, null)))
    assert(folded == Map("sid-a" -> "1-3:5:7-9:100", "sid-b" -> "10"))
    assert(graft.functions.IntervalSet.parse("1-3:5:7-9").render == "1-3:5:7-9")
  }

  test("foldRows over 5,000 shuffled GNOs equals the graft_gtid_set aggregate") {
    import graft.sinks.LedgerCompactor
    import graft.functions.{GtidSetAgg, IntervalSet}
    val rnd = new scala.util.Random(11)
    val gnos = rnd.shuffle(rnd.shuffle((1L to 8000L).toVector).take(5000))
    val agg = gnos.toDF("gno").agg(GtidSetAgg.column(col("gno"))).as[String].head()
    assert(LedgerCompactor.foldRows(gnos.map(g => (sid, g, null))) == Map(sid -> agg))
    // a compacted interval row folds in through the same pass
    val prior = "1-3:9000-9005"
    assert(LedgerCompactor.foldRows((sid, 0L, prior) +: gnos.map(g => (sid, g, null)))(sid) ==
      IntervalSet.parse(agg).merge(IntervalSet.parse(prior)).render)
  }

  test("compact() rewrites only sids over threshold: delete then single insert in one tx") {
    JdbcRecorder.clear()
    import graft.sinks.LedgerCompactor
    val canned: String => Seq[Seq[AnyRef]] = {
      case sql if sql.startsWith("SELECT source_uuid, COUNT(*)") =>
        Seq(Seq("sid-hot", java.lang.Long.valueOf(3L)), Seq("sid-cold", java.lang.Long.valueOf(1L)))
      case sql if sql.startsWith("SELECT gtid, gtid_set") =>
        Seq(Seq(java.lang.Long.valueOf(4L), null),
          Seq(java.lang.Long.valueOf(5L), null),
          Seq(java.lang.Long.valueOf(9L), null))
      case _ => Nil
    }
    val n = LedgerCompactor.compact(JdbcRecorder.connection(canned), "led", "job1", threshold = 2)
    assert(n == 1)
    val evs = JdbcRecorder.events.toArray(Array.empty[JdbcRecorder.Exec]).toSeq
    assert(evs.map(_.sql) == Seq(
      LedgerCompactor.deleteAllSql("led"),
      graft.sinks.SqlBuilder.ledgerInsert("led")))
  }
}
