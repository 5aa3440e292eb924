package perfbench

import java.util.concurrent.CountDownLatch

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode

/** Closed-loop HTTP load: each client thread sends its next request as
  * soon as the previous answer is in, with no think time. Each answer is
  * checked after its latency is taken.
  */
object Load {

  final case class Sample(kind: String, variant: String, ms: Double, body: Option[JsonNode])

  /** `stream(c)` gives client `c` its request generator. */
  final class Clients(ctx: Ctx, n: Int, seedBase: Long, stream: Int => scala.util.Random => Req,
      keepBody: Req => Boolean = _ => false) {
    private val go = new CountDownLatch(1)
    @volatile private var deadlineNs = Long.MaxValue
    val samples: Array[mutable.ArrayBuffer[Sample]] = Array.fill(n)(mutable.ArrayBuffer[Sample]())
    @volatile var cpuNs = 0L
    private val threads = (0 until n).map { c =>
      val t = new Thread(() => {
        go.await()
        val client = new Client
        val next = stream(c)
        val rng = new scala.util.Random(seedBase * 1009 + c)
        while (System.nanoTime() < deadlineNs) {
          val r = next(rng)
          val t0 = System.nanoTime()
          val outcome = scala.util.Try(client.send(r))
          val ms = (System.nanoTime() - t0) / 1e6
          val (verdict, js) = outcome match {
            case scala.util.Success((status, body)) => Check.verdict(r, status, body)
            case scala.util.Failure(e) => (Some(s"request failed: $e"), None)
          }
          verdict.foreach(v => ctx.fail(s"${r.kind}/${r.variant} ${r.pathAndQuery} ${r.body}", v))
          samples(c) += Sample(r.kind, r.variant, ms, js.filter(_ => keepBody(r)))
        }
        Clients.this.synchronized { cpuNs += ctx.threadCpuNs() }
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t
    }

    /** Starts the clients; each sends requests for `durationNs`. */
    def start(durationNs: Long): Unit = {
      deadlineNs = System.nanoTime() + durationNs
      threads.foreach(_.start())
      go.countDown()
    }

    def join(): Seq[Sample] = {
      threads.foreach(_.join())
      samples.toSeq.flatten
    }
  }
}
