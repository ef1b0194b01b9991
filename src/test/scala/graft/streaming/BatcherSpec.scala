package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** D9/D10/D11 client-side semantics vs the reference
  * (client/batcher.go:89-113, client/client.go:143-209).
  */
class BatcherSpec extends AnyFunSuite {
  import Batcher._

  private def msg(i: Int) = Array(i.toByte)

  test("D8 backoff suspends delivery until the deadline, then sends") {
    val sent = new java.util.concurrent.atomic.AtomicLong(0)
    val b = new Batcher(10, (_, _) => { sent.set(System.currentTimeMillis()); RowBuffer.Ok },
      retrySleepMs = 1)
    val deadline = System.currentTimeMillis() + 150
    b.backoff(deadline)
    assert(b.inBackoff)
    b.writeBatch("a", Seq(msg(1)))
    val results = b.flush() // must block until the deadline passes
    assert(results("a") == Right(()))
    assert(sent.get() >= deadline, "delivery happened inside the backoff window")
    assert(!b.inBackoff)
  }

  test("D8 backoff set mid-delivery is honored before the next retry") {
    // first attempt returns Full and sets a backoff (as a server
    // rejecting under pressure would); the retry must wait the backoff
    // out instead of ignoring it (ADVICE r3 #3)
    val attempts = mutable.ArrayBuffer.empty[Long]
    var batcher: Batcher = null
    var deadline = 0L
    batcher = new Batcher(10, (_, _) => {
      attempts += System.currentTimeMillis()
      if (attempts.size == 1) {
        deadline = System.currentTimeMillis() + 120
        batcher.backoff(deadline)
        RowBuffer.Full
      } else RowBuffer.Ok
    }, retryTimes = 3, retrySleepMs = 1)
    batcher.writeBatch("t", Seq(msg(1)))
    assert(batcher.flush() == Map("t" -> Right(())))
    assert(attempts.size == 2)
    assert(attempts(1) >= deadline,
      "retry fired inside the backoff window set during delivery")
  }

  test("per-type capacity: incoming alone or combined over cap rejects") {
    val b = new Batcher(3, (_, _) => RowBuffer.Ok)
    assert(b.writeBatch("a", Seq(msg(1), msg(2), msg(3), msg(4))) == Left(Oversized))
    assert(b.writeBatch("a", Seq(msg(1), msg(2))) == Right(()))
    assert(b.writeBatch("a", Seq(msg(3), msg(4))) == Left(Oversized))
    // other types have their own budget
    assert(b.writeBatch("b", Seq(msg(5), msg(6), msg(7))) == Right(()))
  }

  test("flush groups by type and clears buffers") {
    val got = mutable.Map.empty[String, Int]
    val b = new Batcher(10, (t, ms) => { got(t) = ms.size; RowBuffer.Ok })
    b.writeBatch("x", Seq(msg(1), msg(2)))
    b.writeBatch("y", Seq(msg(3)))
    b.writeBatch("x", Seq(msg(4)))
    val res = b.flush()
    assert(res == Map("x" -> Right(()), "y" -> Right(())))
    assert(got == Map("x" -> 3, "y" -> 1))
    assert(b.buffered("x") == 0 && b.buffered("y") == 0)
    assert(b.flush().isEmpty)
  }

  test("Full retries up to retryTimes then exhausts") {
    var calls = 0
    val b = new Batcher(10, (_, _) => { calls += 1; RowBuffer.Full },
      retryTimes = 2)
    b.writeBatch("t", Seq(msg(1)))
    assert(b.flush() == Map("t" -> Left(RetriesExhausted)))
    assert(calls == 3) // initial + 2 retries
  }

  test("Full then Ok succeeds within budget") {
    var calls = 0
    val b = new Batcher(10,
      (_, _) => { calls += 1; if (calls < 3) RowBuffer.Full else RowBuffer.Ok },
      retryTimes = 5)
    b.writeBatch("t", Seq(msg(1)))
    assert(b.flush() == Map("t" -> Right(())))
    assert(calls == 3)
  }

  test("TooManyInFlight backs off and retries like Full") {
    var calls = 0
    val b = new Batcher(10,
      (_, _) => { calls += 1
        if (calls < 3) RowBuffer.TooManyInFlight else RowBuffer.Ok },
      retryTimes = 5)
    b.writeBatch("t", Seq(msg(1)))
    assert(b.flush() == Map("t" -> Right(())))
    assert(calls == 3)
  }

  test("TooBig is non-retryable") {
    var calls = 0
    val b = new Batcher(10, (_, _) => { calls += 1; RowBuffer.TooBig },
      retryTimes = 5)
    b.writeBatch("t", Seq(msg(1)))
    assert(b.flush() == Map("t" -> Left(DroppedTooBig)))
    assert(calls == 1)
  }

  test("type-id dictionary is stable and first-use ordered (D11)") {
    val b = new Batcher(10, (_, _) => RowBuffer.Ok)
    assert(b.typeId("alpha") == 1)
    assert(b.typeId("beta") == 2)
    assert(b.typeId("alpha") == 1)
    b.writeBatch("gamma", Seq(msg(1)))
    assert(b.typeId("gamma") == 3)
  }

  test("end-to-end: batcher feeding an ingest shim's buffer") {
    val queue = new graft.sources.QueueSource.IngestQueue(8, RowBuffer.Block)
    val b = new Batcher(8, (_, ms) => queue.writeBatch(ms), retryTimes = 0)
    b.writeBatch("t", (1 to 6).map(msg))
    assert(b.flush() == Map("t" -> Right(())))
    b.writeBatch("t", (1 to 6).map(msg))
    assert(b.flush() == Map("t" -> Left(RetriesExhausted))) // queue has 6/8
    assert(queue.endSeq - queue.firstSeq == 6)
  }
}
