package graft.core

import scala.util.control.NonFatal

/** Sequential, conditional, checkpoint-able pipeline runner.
  *
  * Spark re-expression of the reference orchestrator (reference:
  * src/core/pipeline.py:47-171): a driver-side fold over the processor
  * list. Conditions gate steps (pipeline.py:66-99); skipped steps are
  * logged (pipeline.py:124-126); `stopOnError` selects fail-fast vs
  * warn-and-continue (processor.py:158-174, pipeline.py:129-135).
  *
  * Checkpointing: the reference deep-copies the whole context per step
  * (pipeline.py:137-140). Plans are immutable here, so a "checkpoint"
  * is the context reference itself, recorded under the step's name.
  * It persists nothing: replaying from a step recomputes upstream
  * stages, except where a step checkpointed its own output through
  * [[CacheScope]], which owns every internal cache — inside
  * `CacheScope.run` those are released when the scope ends, outside
  * it they follow the rules in its doc.
  */
final class Pipeline(
    val processors: Seq[Processor],
    val conditions: Map[String, PipelineContext => Boolean] = Map.empty,
    val stopOnError: Boolean = true,
    val enableCheckpoints: Boolean = false) {

  private val checkpointStore = scala.collection.mutable.LinkedHashMap.empty[String, PipelineContext]

  def checkpoints: Map[String, PipelineContext] = checkpointStore.toMap

  private def shouldExecute(p: Processor, ctx: PipelineContext): Boolean =
    conditions.get(p.name).forall(cond => cond(ctx))

  def run(initial: PipelineContext): PipelineContext = runSlice(initial, processors)

  /** Run the inclusive [startName, endName] slice of the processor list
    * (reference: src/core/pipeline.py:145-171).
    */
  def runPartial(initial: PipelineContext, startName: String, endName: String): PipelineContext = {
    val names = processors.map(_.name)
    val s = names.indexOf(startName)
    val e = names.indexOf(endName)
    require(s >= 0, s"unknown start processor '$startName'")
    require(e >= s, s"unknown/out-of-order end processor '$endName'")
    runSlice(initial, processors.slice(s, e + 1))
  }

  private def runSlice(initial: PipelineContext, steps: Seq[Processor]): PipelineContext =
    steps.foldLeft(initial) { (ctx, p) =>
      if (!shouldExecute(p, ctx)) ctx.logStep(p.name, 0.0, skipped = true)
      else {
        val attempt =
          try Right(p(ctx))
          catch {
            case NonFatal(e) =>
              val logged = ctx.logError(p.name, Option(e.getMessage).getOrElse(e.getClass.getName))
              if (stopOnError) throw new PipelineStepException(p.name, logged, e)
              else Left(logged.withWarning(s"${p.name} failed, continuing: ${e.getMessage}"))
          }
        attempt match {
          case Right(next) =>
            if (enableCheckpoints) checkpointStore.put(p.name, next)
            next
          case Left(failed) =>
            // NO checkpoint for a step that never completed: recording
            // the pre-step context under the step's name would make a
            // later runPartial resume silently skip the step's work
            failed
        }
      }
    }
}

/** Fail-fast wrapper carrying the context as of the failure, so callers
  * can inspect partial progress (reference: pipeline.py:129-135).
  */
final class PipelineStepException(val step: String, val context: PipelineContext, cause: Throwable)
  extends RuntimeException(s"pipeline step '$step' failed: ${cause.getMessage}", cause)
