package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import graft.aql.{Engine, Parser}
import graft.server.{Blake3, WireCrypto}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row

/** What a client sees of one statement: a first page (columns, rows,
  * cursor id), a cursor page, or a message. `bytes` is the size of the
  * response body on the wire (0 in-process). */
final case class Outcome(columns: Seq[String], rows: ArrayNode,
    cursor: Option[String], bytes: Int)

final class StatementError(msg: String) extends Exception(msg)

/** A way to execute one AQL statement. */
trait Channel {
  def exec(text: String, args: Seq[String]): Outcome
  /** Time this channel spent on the benchmark's own bookkeeping so far;
    * left out of step timings. */
  def untimedNs: Long = 0L
}

object Channel {
  /** Decode the server's result JSON (the body of /query, or the inner
    * content of a wire response). */
  def decode(json: String, bytes: Int): Outcome = {
    val n = Json.mapper.readTree(json)
    if (n.has("error")) throw new StatementError(n.get("error").asText())
    val cols = Option(n.get("columns")).map(c => (0 until c.size).map(c.get(_).asText())).getOrElse(Nil)
    val rows = Option(n.get("rows")).collect { case a: ArrayNode => a }
      .getOrElse(Json.mapper.createArrayNode())
    Outcome(cols, rows, Option(n.get("cursor")).map(_.asText()), bytes)
  }
}

/** Plain JSON route: POST /query, statement on line 1, one `?` argument
  * per following line. */
final class JsonChannel(port: Int) extends Channel {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/query")

  def exec(text: String, args: Seq[String]): Outcome = {
    val body = (text +: args).mkString("\n")
    val req = HttpRequest.newBuilder(uri)
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val bytes = resp.body()
    val json = new String(bytes, UTF_8)
    if (resp.statusCode != 200) throw new StatementError(s"HTTP ${resp.statusCode}: $json")
    Channel.decode(json, bytes.length)
  }
}

/** The reference's encrypted wire protocol: a key handshake, then
  * POSTs of `blake3(key) ‖ AES-256-GCM(JSON command)`. */
final class WireChannel(port: Int, key: Array[Byte]) extends Channel {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/")
  private val keyHash = Blake3.hash(key)

  private def send(method: String, body: Array[Byte]): Array[Byte] = {
    val req = HttpRequest.newBuilder(uri)
      .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build()
    http.send(req, HttpResponse.BodyHandlers.ofByteArray()).body()
  }

  locally {
    val resp = send("GET", keyHash)
    if (resp.isEmpty || resp(0) != 1) throw new StatementError("wire handshake rejected")
  }

  def exec(text: String, args: Seq[String]): Outcome = {
    val cmd = Json.mapper.createObjectNode()
    cmd.put("command", text)
    val a = cmd.putArray("arguments")
    args.foreach(a.add)
    val resp = send("POST", keyHash ++
      WireCrypto.encrypt(Json.mapper.writeValueAsBytes(cmd), key))
    if (resp.length <= 8) throw new StatementError("wire error frame")
    val plain = WireCrypto.decrypt(resp.drop(8), key)
      .getOrElse(throw new StatementError("wire response did not decrypt"))
    val env = Json.mapper.readTree(plain)
    val content = env.get("?").asText()
    if (env.get("!").asInt() != 1) throw new StatementError(content)
    Channel.decode(content, resp.length)
  }
}

/** The in-process path the server takes for one statement
  * (`AqlServer.executeToJson`): parse, run and resolve the ordered view
  * under the server-wide lock, then plan and collect the first page
  * outside it. `onStmt` receives each statement's id. With a tracer, each
  * of those calls is one span under a root `stmt` span, and `onPlan`
  * receives the served page's physical plan after the collect. */
final class InProcessChannel(eng: Engine, lock: AnyRef, tracer: Option[Tracer],
    onStmt: Long => Unit, onPlan: (Long, org.apache.spark.sql.execution.SparkPlan, Int) => Unit)
    extends Channel {
  private def span[A](name: String, stmt: Long)(body: => A): A =
    tracer match {
      case Some(t) => t.span(name, stmt)(body)
      case None => body
    }

  def exec(text: String, args: Seq[String]): Outcome = {
    val stmt = InProcessChannel.nextId.incrementAndGet()
    onStmt(stmt)
    span("stmt", stmt) {
      val (result, ordered) = lock.synchronized {
        val parsed = span("aql.parse", stmt)(Parser.parse(text, args))
        span("engine.run", stmt)(eng.run(parsed)) match {
          case r @ Engine.ResultSet(_, id) =>
            (r, span("engine.ordered", stmt)(eng.orderedResult(id)))
          case r => (r, None)
        }
      }
      result match {
        case Engine.ResultSet(df, id) =>
          val limited = span("catalyst.plan", stmt) {
            val l = ordered.getOrElse(df).limit(eng.PageSize)
            l.queryExecution.executedPlan
            l
          }
          val rows = span("collect", stmt)(limited.collect())
          if (tracer.isDefined) onPlan(stmt, limited.queryExecution.executedPlan, rows.length)
          Outcome(df.columns.toSeq, InProcessChannel.render(rows), Some(id), 0)
        case Engine.Page(rows, _) =>
          Outcome(Nil, InProcessChannel.render(rows), None, 0)
        case Engine.Done(_) =>
          Outcome(Nil, Json.mapper.createArrayNode(), None, 0)
      }
    }
  }
}

object InProcessChannel {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Rows as the server renders them (`AqlServer.jval`). */
  def render(rows: Seq[Row]): ArrayNode = {
    val out = Json.mapper.createArrayNode()
    rows.foreach { r =>
      val a = out.addArray()
      r.toSeq.foreach {
        case null => a.addNull()
        case b: Boolean => a.add(b)
        case d: Double if d.isNaN || d.isInfinite => a.addNull()
        case f: Float if f.isNaN || f.isInfinite => a.addNull()
        case n: Int => a.add(n)
        case n: Long => a.add(n)
        case n: Double => a.add(n)
        case n: Float => a.add(n.toDouble)
        case n: Short => a.add(n.toInt)
        case n: Byte => a.add(n.toInt)
        case b: Array[Byte] => a.add(java.util.Base64.getEncoder.encodeToString(b))
        case other => a.add(other.toString)
      }
    }
    out
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Row-by-row equality, numbers within a relative 1e-6. */
  def sameRows(a: JsonNode, b: JsonNode): Boolean =
    a.size == b.size && (0 until a.size).forall { i =>
      val (ra, rb) = (a.get(i), b.get(i))
      ra.size == rb.size && (0 until ra.size).forall(j => sameCell(ra.get(j), rb.get(j)))
    }

  def sameCell(x: JsonNode, y: JsonNode): Boolean =
    if (x.isNumber && y.isNumber) {
      val (p, q) = (x.asDouble, y.asDouble)
      math.abs(p - q) <= 1e-6 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
    } else if (x.isNull || y.isNull) x.isNull && y.isNull
    else x.asText == y.asText
}
