package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class WorkloadSpec extends AnyFunSuite {
  private val nBatches = 12

  private def files(spec: Spec, seed: Long): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try Workload.generate(spec, seed, nBatches).batches.toSeq.zipWithIndex.map {
      case (b, i) =>
        val p = dir.resolve(s"batch-$i.json")
        Workload.writeBatch(p, b)
        Files.readAllBytes(p)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.delete(dir)
    }
  }

  Workload.specs.foreach { spec =>
    test(s"${spec.name}: the same seed writes byte-identical batch files") {
      val a = files(spec, 7)
      val b = files(spec, 7)
      assert(a.size == nBatches)
      a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    }

    test(s"${spec.name}: a different seed writes different batch files") {
      val a = files(spec, 7)
      val b = files(spec, 8)
      a.zip(b).foreach { case (x, y) => assert(!java.util.Arrays.equals(x, y)) }
    }

    test(s"${spec.name}: batches are cut by count") {
      val g = Workload.generate(spec, 3, nBatches)
      g.batches.foreach(b => assert(b.length == spec.batchEvents))
      files(spec, 3).foreach { bytes =>
        assert(new String(bytes, "UTF-8").count(_ == '\n') == spec.batchEvents)
      }
    }

    test(s"${spec.name}: late and re-delivered shares are exact") {
      val g = Workload.generate(spec, 5, nBatches)
      g.batches.indices.foreach { b =>
        val batch = g.batches(b)
        // a re-delivery repeats an event (same ts) of the same batch
        assert(batch.length - batch.map(_.ts).distinct.length == spec.redeliverCount)
        // a late event was made by an earlier batch
        val late = batch.map(_.ts).distinct.count(_ < g.firstTs(b))
        if (b >= Workload.MaxDelay) assert(late == spec.lateCount, s"batch $b")
        else assert(late <= spec.lateCount)
        assert(batch.forall(_.ts < g.firstTs(b + 1)))
      }
    }

    spec.draw match {
      case Window(width, step) =>
        test(s"${spec.name}: a batch draws distinct keys from its moving window") {
          val g = Workload.generate(spec, 4, nBatches)
          g.batches.indices.foreach { b =>
            val start = b.toLong * step
            val window = (0L until width).map(k => (start + k) % spec.keySpace).toSet
            val keys = g.batches(b).filter(_.ts >= g.firstTs(b)).map(_.key)
            assert(keys.distinct.length == keys.length)
            assert(keys.forall(window), s"batch $b")
          }
        }
      case _ =>
    }

    test(s"${spec.name}: late events older than a committed delete keep their share") {
      val g = Workload.generate(spec, 5, nBatches)
      val deletedAt = scala.collection.mutable.LongMap.empty[List[Long]]
      g.batches.indices.foreach { b =>
        val batch = g.batches(b)
        val lateAfterDelete = batch.filter(e => e.ts < g.firstTs(b) && e.op != 'd' &&
          deletedAt.getOrElse(e.key, Nil).exists(_ > e.ts)).map(_.ts).distinct.length
        if (b >= 1) assert(lateAfterDelete >= spec.lateAfterDeleteCount, s"batch $b")
        if (spec.lateCount == 0) assert(lateAfterDelete == 0)
        batch.filter(_.op == 'd').foreach(e =>
          deletedAt.update(e.key, e.ts :: deletedAt.getOrElse(e.key, Nil)))
      }
    }

    test(s"${spec.name}: without tombstones the table only gains resurrected rows") {
      val g = Workload.generate(spec, 9, nBatches)
      val oracle = new Oracle
      oracle.preload(Workload.preload(spec, 9), Workload.BaseTs - 1)
      g.batches.foreach(oracle.putAll)
      (0L until spec.keySpace.toLong + 1).foreach { k =>
        assert(oracle.get(k).isEmpty || oracle.resurrected(k).isEmpty)
      }
      val (n, _, _) = oracle.untombedChecksum
      assert(n == oracle.count + oracle.resurrectedCount)
      if (spec.lateAfterDeleteCount > 0) assert(oracle.resurrectedCount > 0)
      else assert(oracle.resurrectedCount == 0)
    }
  }
}
