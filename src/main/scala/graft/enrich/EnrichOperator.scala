package graft.enrich

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

import java.util.concurrent.{Executors, Future => JFuture, TimeUnit}
import scala.collection.mutable

/** E1/E2: the distributed LLM-map operator — `mapPartitions` with a bounded
  * thread pool and a per-partition rate limiter (SURVEY.md §2.7).
  *
  * Scale design: the reference fans out 250 concurrent requests from one
  * process; here each of N partitions runs `maxConcurrent / N` workers and a
  * token bucket at `targetRpm / N`, so the global in-flight and request-rate
  * envelopes match the reference's semaphore + AsyncLimiter regardless of
  * cluster size. The shares add up to the envelope only while all N
  * partitions run at once, so the input is first coalesced (no shuffle) to
  * at most the cluster's default parallelism. Transport/pool lifecycle is
  * per-partition (the analogue of the reference's pooled ClientSession).
  * The limiter gates every transport ATTEMPT (retries included), like the
  * reference's `async with rate_limiter` inside the retry loop
  * (`src/program2_ai_processor.py:387-389`).
  *
  * Rows stream through the pool under a bounded in-flight window of
  * 2×concurrency: only O(concurrency) documents (and their responses) are
  * resident per partition at any moment, regardless of partition size —
  * `invokeAll` over the whole partition would OOM at 100 TB. Results preserve
  * input order within a partition (FIFO completion drain).
  *
  * The input is planned and run once: the RDD that gives N is the one the
  * pools consume, so a broadcast join in the input (the skip-if-exists
  * anti-join) broadcasts once.
  */
object EnrichOperator {

  final case class Doc(key: String, content: String)
  final case class Enriched(key: String, ok: Boolean, description: String, raw: String)

  def enrich(
      docs: Dataset[Doc],
      transportFactory: () => LlmTransport,
      promptTemplate: String,
      config: EnrichConfig = EnrichConfig(),
      sleeper: Long => Unit = Thread.sleep,
      // when set (EnrichJob's exactGlobalRpm path), every partition draws
      // permits from the same driver-hosted bucket instead of rpm/N
      limiterFactory: Option[() => RateLimiter] = None,
      // when set (EnrichJob's exactGlobalConcurrency path), every transport
      // call holds one of maxConcurrent driver-leased slots — the exact
      // global cap instead of the per-partition pool-size approximation
      slotFactory: Option[() => RemoteConcurrencyLimiter] = None): Dataset[Enriched] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val input = docs.coalesce(spark.sparkContext.defaultParallelism).rdd
    val nParts = math.max(1, input.getNumPartitions)
    // Exact global mode: each partition runs a FULL-width pool and the
    // driver's semaphore owns the global bound — one starved partition can
    // then use every slot the others leave idle (single-process semaphore
    // semantics). Approximate mode: the bound IS the pool sizing, so divide.
    val perPartConcurrency =
      if (slotFactory.isDefined) math.max(1, config.maxConcurrent)
      else math.max(1, config.maxConcurrent / nParts)
    val perPartRpm = config.targetRpm.toDouble / nParts

    spark.createDataset(input.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val transport = transportFactory()
        val limiter = limiterFactory.map(_.apply())
          .getOrElse(new RateLimiter(perPartRpm, sleeper))
        val slots = slotFactory.map(_.apply())
        val caller = new RetryingLlmCaller(transport, config, sleeper, limiter)
        val pool = Executors.newFixedThreadPool(perPartConcurrency)
        // if the consumer abandons the iterator (limit, task kill), still
        // release the pool threads at task end
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          pool.shutdownNow(); ()
        })
        val window = perPartConcurrency * 2
        val pending = mutable.Queue.empty[JFuture[Enriched]]

        def submit(doc: Doc): JFuture[Enriched] =
          pool.submit(new java.util.concurrent.Callable[Enriched] {
            override def call(): Enriched = {
              val payload = PromptTemplate.buildPayload(promptTemplate, doc.content)
              // slot held for the whole call incl. retries — the reference
              // holds its semaphore around the full retry loop likewise
              val r = slots match {
                case Some(s) => s.withSlot(caller.call(payload))
                case None => caller.call(payload)
              }
              Enriched(doc.key, r.ok, r.description.orNull, r.raw.orNull)
            }
          })
        def fill(): Unit =
          while (rows.hasNext && pending.size < window) pending.enqueue(submit(rows.next()))

        fill()
        new Iterator[Enriched] {
          override def hasNext: Boolean = pending.nonEmpty
          override def next(): Enriched = {
            val r = pending.dequeue().get()
            fill()
            if (pending.isEmpty) {
              pool.shutdown()
              pool.awaitTermination(1, TimeUnit.MINUTES)
            }
            r
          }
        }
      }
    })
  }
}
