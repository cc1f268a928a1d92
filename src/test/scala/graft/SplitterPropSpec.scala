package graft

import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Properties}
import graft.config.{BatcherConfig, BatchSplitter}
import graft.core.Pipeline
import graft.model.Message

/** ScalaCheck properties for the batch splitter (FIXTURES.md A4): batches
  * concatenate back to the input, and no batch overruns the accumulator
  * budget by more than one message (the emitting message closes the batch).
  */
object SplitterPropSpec extends Properties("BatchSplitter") {

  private val budget = 10L
  private val splitter = BatchSplitter[Int](0L, (m, acc) => {
    val next = acc + m.data
    (next >= budget, next)
  })
  private val bc = BatcherConfig[Int]("default", batchSplitter = Some(splitter))

  private val msgsGen: Gen[List[Message[Int]]] =
    Gen.listOf(Gen.chooseNum(1, 9)).map(_.map(i => Message(i)))

  property("concatenation preserves input") = forAll(msgsGen) { msgs =>
    val out = Pipeline.splitBatches(msgs, bc)
    out.flatMap(_._1) == msgs
  }

  property("every size-triggered batch meets the budget exactly once") =
    forAll(msgsGen) { msgs =>
      val out = Pipeline.splitBatches(msgs, bc)
      out.filter(_._2 == "size").forall { case (batch, _) =>
        val sum = batch.map(_.data).sum
        // reached budget with the last message, not before
        sum >= budget && (sum - batch.last.data) < budget
      }
    }

  property("at most one non-size trailing batch") = forAll(msgsGen) { msgs =>
    val out = Pipeline.splitBatches(msgs, bc)
    out.count(_._2 != "size") <= 1 &&
    out.zipWithIndex.filter(_._1._2 != "size").forall(_._2 == out.size - 1)
  }

  private val fixedBc = BatcherConfig[Int]("default", batchSize = 7)

  property("fixed-size batching: all full except possibly the last") =
    forAll(msgsGen) { msgs =>
      val out = Pipeline.splitBatches(msgs, fixedBc)
      out.flatMap(_._1) == msgs &&
      out.dropRight(1).forall(_._1.size == 7) &&
      out.lastOption.forall(_._1.size <= 7)
    }

  // ---- list-state backend's pre-decision vs the shared fold -----------
  // appendOnlyAcc is the ONE piece of emission-decision logic
  // KeyedBatcher's list-state backend reimplements (everything else
  // routes through foldGroup): for ANY reachable open state and ANY
  // incoming slice — flush modes, splitter or fixed size, overdue or
  // live deadline — it must return Some(acc) exactly when foldGroup emits
  // nothing, with acc equal to the fold's accumulator and the state equal
  // to append-only.
  private val flushyMsgsGen: Gen[List[Message[Int]]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(1, 9), Gen.prob(0.15)).map { case (i, fl) =>
      Message(i, batchMode = if (fl) graft.model.BatchMode.Flush else graft.model.BatchMode.Bulk)
    })

  private def agreeOn(
      sp: Option[BatchSplitter[Int]],
      batchSize: Int,
      part1: List[Message[Int]],
      part2: List[Message[Int]],
      now2: Long): Boolean = {
    import graft.streaming.KeyedBatcher
    // reach a REAL open state by folding part1 from scratch at t=0
    val (_, st1) = KeyedBatcher.foldGroup("b", "k", None, 0L, part1,
      batchSize, batchTimeoutMs = 100L, splitter = sp)
    val prior = st1.map { case (buf, acc, dl) => (buf.size.toLong, acc, dl) }
    val pre = KeyedBatcher.appendOnlyAcc(prior, now2, part2, batchSize, sp)
    val (emitted2, st2) = KeyedBatcher.foldGroup("b", "k", st1, now2, part2,
      batchSize, batchTimeoutMs = 100L, splitter = sp)
    pre match {
      case None => emitted2.nonEmpty // fired ⇔ the fold emits
      case Some(acc) =>
        emitted2.isEmpty && (st2 match {
          // nothing open and nothing incoming: the fast path's own
          // incoming.isEmpty early-return — no state either way
          case None => st1.isEmpty && part2.isEmpty
          case Some((buf2, acc2, dl2)) =>
            acc2 == acc && // same accumulator, user splitter stepped once
            buf2 == st1.map(_._1).getOrElse(Vector.empty) ++ part2 &&
            // appends keep the open deadline; a fresh batch opens at now2
            dl2 == st1.map(_._3).getOrElse(now2 + 100L)
        })
    }
  }

  property("appendOnlyAcc agrees with foldGroup: splitter, live deadline") =
    forAll(flushyMsgsGen, flushyMsgsGen) { (p1, p2) =>
      agreeOn(Some(splitter), batchSize = 1 << 20, p1, p2, now2 = 50L)
    }

  property("appendOnlyAcc agrees with foldGroup: fixed size, live deadline") =
    forAll(flushyMsgsGen, flushyMsgsGen, Gen.chooseNum(1, 12)) { (p1, p2, bs) =>
      agreeOn(None, batchSize = bs, p1, p2, now2 = 50L)
    }

  // ---- one rule within and across micro-batches -----------------------
  // The pipeline chunks each micro-batch with splitBatches; KeyedBatcher
  // carries the open batch to the next trigger. Cutting a message list
  // anywhere and folding the parts in two triggers with a live deadline
  // must emit the same size/flush batches as one splitBatches call, and
  // leave open exactly that call's trailing "timeout" chunk.
  private def waveSplitInvariant(
      bc: BatcherConfig[Int],
      part1: List[Message[Int]],
      part2: List[Message[Int]]): Boolean = {
    import graft.streaming.KeyedBatcher
    def fold(prior: Option[(Vector[Message[Int]], Long, Long)], now: Long, ms: List[Message[Int]]) =
      KeyedBatcher.foldGroup("b", "k", prior, now, ms,
        bc.batchSize, batchTimeoutMs = 100L, splitter = bc.batchSplitter)
    val (e1, st1) = fold(None, 0L, part1)
    val (e2, st2) = fold(st1, 50L, part2)
    val whole = Pipeline.splitBatches(part1 ++ part2, bc)
    val (closed, trailing) = whole.partition(_._2 != "timeout")
    (e1 ++ e2).map(b => (b.messages, b.trigger)) == closed &&
    st2.map(_._1).toList == trailing.map(_._1)
  }

  property("one rule: two-wave foldGroup equals splitBatches, splitter") =
    forAll(flushyMsgsGen, flushyMsgsGen) { (p1, p2) =>
      waveSplitInvariant(bc, p1, p2)
    }

  property("one rule: two-wave foldGroup equals splitBatches, fixed size") =
    forAll(flushyMsgsGen, flushyMsgsGen, Gen.chooseNum(1, 12)) { (p1, p2, bs) =>
      waveSplitInvariant(BatcherConfig[Int]("default", batchSize = bs), p1, p2)
    }

  property("appendOnlyAcc agrees with foldGroup: overdue deadline fires") =
    forAll(flushyMsgsGen, flushyMsgsGen) { (p1, p2) =>
      agreeOn(Some(splitter), batchSize = 1 << 20, p1, p2, now2 = 5000L) &&
      agreeOn(None, batchSize = 7, p1, p2, now2 = 5000L)
    }
}
