package graft.exec

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicReference
import scala.annotation.tailrec
import org.apache.spark.sql.SparkSession

/** Execution states, exactly the reference's poll-loop state machine
  * (/root/reference/aws-athena.sh:39-60): QUEUED/RUNNING are
  * non-terminal; SUCCEEDED yields results; FAILED carries a
  * StateChangeReason (aws-athena.sh:50-53); CANCELLED is terminal with
  * no reason (aws-athena.sh:54-56).
  */
sealed trait QueryState { def terminal: Boolean }
object QueryState {
  case object Queued extends QueryState { val terminal = false }
  case object Running extends QueryState { val terminal = false }
  case object Succeeded extends QueryState { val terminal = true }
  final case class Failed(stateChangeReason: String) extends QueryState { val terminal = true }
  case object Cancelled extends QueryState { val terminal = true }
}

final class QueryExecutionException(msg: String) extends RuntimeException(msg)

/** Asynchronous query-execution protocol over Spark — the reference's
  * submit → id → poll → fetch lifecycle (SURVEY.md §3.1) made
  * in-process.
  *
  *  - [[submit]] parses + analyzes eagerly: an invalid query fails AT
  *    SUBMIT (AnalysisException ≙ the `InvalidRequestException` grep at
  *    aws-athena.sh:29-32) and never gets an execution id.
  *  - A submitted query runs detached on an executor thread under a
  *    Spark job group named by its execution id, so [[cancel]] can do
  *    real cancellation (`cancelJobGroup` — the reference's CANCELLED
  *    is server-side, aws-athena.sh:54-56).
  *  - [[results]] returns the stringly [[ResultSet]] (VarCharValue
  *    model, aws-athena.sh:44-48). A statement's root ORDER BY is
  *    finished at that client edge, as a top-K collect
  *    ([[ResultSet.fromDataFrame]]), not as a sampled range shuffle.
  *  - [[status]] is what the reference polls, sleeping 1 s per check
  *    (aws-athena.sh:58). In-process, [[awaitTerminal]] blocks until
  *    the terminal transition instead, the state machine (not the
  *    latency) being the contract.
  *  - Every manager runs its queries on one worker pool per JVM, so a
  *    manager per statement (the Cli) leaves no idle pool behind.
  *
  * Each query's `workGroup` tags the execution with a config namespace
  * (ATHENA_WORKGROUP routing, aws-athena.sh:8,27).
  */
final class QueryManager(spark: SparkSession,
    defaultWorkGroup: String = sys.env.getOrElse("ATHENA_WORKGROUP", "primary")) {

  /** State transitions go through an AtomicReference CAS so a cancel
    * racing the worker thread can never be overwritten: terminal
    * states (CANCELLED included — aws-athena.sh:54-56) are final.
    * Whichever side wins the terminal CAS releases `done`.
    */
  private final class Execution(
      val id: String,
      val sql: String,
      val workGroup: String) {
    val state = new AtomicReference[QueryState](QueryState.Queued)
    val done = new CountDownLatch(1)
    @volatile var result: Option[ResultSet] = None

    def finish(from: QueryState, to: QueryState): Boolean =
      state.compareAndSet(from, to) && { done.countDown(); true }
  }

  private val executions = new ConcurrentHashMap[String, Execution]()

  /** Submit a SQL query; returns the execution id (echoed by the
    * reference at aws-athena.sh:36). Parse/analysis errors throw here,
    * before an id exists.
    */
  def submit(sql: String, workGroup: String = defaultWorkGroup): String = {
    val df = spark.sql(sql) // eager parse + analysis (submit-time errors)
    val id = UUID.randomUUID().toString
    val exec = new Execution(id, sql, workGroup)
    executions.put(id, exec)
    QueryManager.pool.submit(new Runnable {
      def run(): Unit = {
        // Job group is attached BEFORE the Queued->Running CAS, so by
        // the time any observer can see RUNNING, cancelJobGroup(id)
        // reaches the real job.
        spark.sparkContext.setJobGroup(id, sql, interruptOnCancel = true)
        try {
          if (exec.state.compareAndSet(QueryState.Queued, QueryState.Running)) {
            try {
              val rs = ResultSet.fromDataFrame(df)
              exec.result = Some(rs) // publish before the state flips
              exec.finish(QueryState.Running, QueryState.Succeeded)
            } catch {
              case e: Throwable =>
                // CAS keeps CANCELLED if a cancel won the race.
                exec.finish(QueryState.Running,
                  QueryState.Failed(Option(e.getMessage).getOrElse(e.toString)))
            }
          } // else: cancelled while queued — never runs
        } finally spark.sparkContext.clearJobGroup()
      }
    })
    id
  }

  private def execution(id: String): Execution =
    Option(executions.get(id)).getOrElse(
      throw new QueryExecutionException(s"unknown execution id: $id"))

  def status(id: String): QueryState = execution(id).state.get()

  @tailrec
  private def cancelLoop(exec: Execution): Unit = exec.state.get() match {
    case s if s.terminal => () // terminal states are final
    case s =>
      if (exec.finish(s, QueryState.Cancelled))
        spark.sparkContext.cancelJobGroup(exec.id)
      else cancelLoop(exec)
  }

  def cancel(id: String): Unit = cancelLoop(execution(id))

  /** Block until terminal (the aws-athena.sh:39-60 loop's exit). */
  def awaitTerminal(id: String): QueryState = {
    val exec = execution(id)
    exec.done.await()
    exec.state.get()
  }

  /** Results of a SUCCEEDED execution. FAILED surfaces its
    * StateChangeReason (aws-athena.sh:50-53); CANCELLED reports
    * cancellation (aws-athena.sh:54-56); non-terminal states are a
    * protocol error.
    */
  def results(id: String): ResultSet = execution(id).state.get() match {
    case QueryState.Succeeded => execution(id).result.get
    case QueryState.Failed(reason) =>
      throw new QueryExecutionException(s"Query failed: $reason")
    case QueryState.Cancelled =>
      throw new QueryExecutionException("Query was cancelled")
    case s =>
      throw new QueryExecutionException(s"Query is not finished: $s")
  }

  /** The full `query` command lifecycle (aws-athena.sh:140): submit,
    * poll to terminal, fetch.
    */
  def query(sql: String, workGroup: String = defaultWorkGroup): ResultSet = {
    val id = submit(sql, workGroup)
    awaitTerminal(id)
    results(id)
  }

  /** The `query` lifecycle for Trino-dialect SQL — the dialect the
    * reference itself emits (aws-athena.sh:73-122) — via
    * [[TrinoDialect.translate]].
    */
  def queryTrino(sql: String, workGroup: String = defaultWorkGroup): ResultSet =
    query(TrinoDialect.translate(sql), workGroup)

  /** The `file` command (aws-athena.sh:146-157): suffix-validated
    * SQL-file source, Trino dialect like the Cli's `file`.
    */
  def queryFile(path: String, workGroup: String = defaultWorkGroup): ResultSet = {
    require(path.endsWith(".sql"), "Specify files with a .sql extension")
    queryTrino(java.nio.file.Files.readString(java.nio.file.Paths.get(path)), workGroup)
  }

  def workGroupOf(id: String): String = execution(id).workGroup
}

object QueryManager {
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-query"); t.setDaemon(true); t
  }
}
