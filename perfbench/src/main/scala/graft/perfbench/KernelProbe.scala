package graft.perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.{MinHashSig, ShingleHashes, SimHash64}

/** Each custom kernel evaluated alone over the workload's texts, the
  * way Spark evaluates it inside a projection, on one thread and on
  * `threads` threads at once. `ns_per_row_nt` is wall time per row
  * with all threads busy, so `scaling` = 1t / nt is the speed-up
  * (ideal: the thread count; ~1 means the threads serialize).
  */
object KernelProbe {

  final case class Result(kernel: String, nsPerRow1t: Double, nsPerRowNt: Double) {
    def scaling: Double = nsPerRow1t / nsPerRowNt
  }

  private final case class Kernel(name: String, expr: Expression, rows: Array[InternalRow])

  /** Wall time each timing loops for. */
  private val BudgetMs = 300L

  def run(texts: Seq[String], threads: Int): Seq[Result] = {
    val textRows: Array[InternalRow] = texts.map(t => InternalRow(UTF8String.fromString(t))).toArray
    val tokenRows: Array[InternalRow] = texts.map { t =>
      InternalRow(new GenericArrayData(t.split(" ").map(UTF8String.fromString).asInstanceOf[Array[Any]]))
    }.toArray
    val shingle = ShingleHashes(BoundReference(0, StringType, nullable = true), 3)
    val shingleProj = UnsafeProjection.create(Seq(shingle))
    val hashRows: Array[InternalRow] = textRows.map(r => InternalRow(shingleProj(r).getArray(0).copy()))
    val kernels = Seq(
      Kernel("simhash64", SimHash64(BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true)), tokenRows),
      Kernel("minhash_sig", MinHashSig(BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true), 32, 42L), hashRows),
      Kernel("shingle_hashes", shingle, textRows))
    kernels.map { k =>
      timed(k, threads) // warm-up: compiled before either timing
      Result(k.name, timed(k, 1), timed(k, threads))
    }
  }

  /** ns per row of wall time: `threads` threads each loop over all
    * rows until `BudgetMs` has passed.
    */
  private def timed(k: Kernel, threads: Int): Double = {
    val rowsDone = new java.util.concurrent.atomic.AtomicLong()
    val start = new java.util.concurrent.CountDownLatch(1)
    val deadline = new java.util.concurrent.atomic.AtomicLong()
    val workers = (0 until threads).map { _ =>
      val t = new Thread(() => {
        val proj = UnsafeProjection.create(Seq(k.expr))
        start.await()
        var n = 0L
        while (System.nanoTime() < deadline.get()) {
          var i = 0
          while (i < k.rows.length) { proj(k.rows(i)); i += 1 }
          n += k.rows.length
        }
        rowsDone.addAndGet(n)
      })
      t.start()
      t
    }
    val t0 = System.nanoTime()
    deadline.set(t0 + BudgetMs * 1000000L)
    start.countDown()
    workers.foreach(_.join())
    (System.nanoTime() - t0).toDouble / math.max(1L, rowsDone.get())
  }
}
