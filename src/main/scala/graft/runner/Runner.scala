package graft.runner

import scala.annotation.tailrec
import scala.util.{Failure, Success, Try}

/** Driver-side orchestration semantics from the reference's Lambda/Step
  * Function layer (SURVEY.md §2.9), re-expressed as a small library: the
  * engine stages stay pure DataFrame → DataFrame; this file owns control
  * flow.
  */
object Runner {

  // ---- F5: filename routing (lambda/s3_validation.py:115-125) -------------

  private val PartName = """(orders|order_items)_part(\d+)""".r

  /** Parse `.../orders_part2.csv` → (fileType, part). `products.csv` is the
    * un-parted special case. Unknown shapes → None. */
  def parseFilename(path: String): Option[(String, Option[Int])] = {
    val name = path.split('/').last
    val base = name.lastIndexOf('.') match {
      case -1 => name
      case i => name.substring(0, i)
    }
    base match {
      case "products" => Some(("products", None))
      case PartName(t, part) => Some((t, Some(part.toInt)))
      case _ => None
    }
  }

  // ---- T6: status lifecycle (readme.md:25-53, confirm_status.py) ----------

  sealed trait Status { def name: String }
  case object Pending extends Status { val name = "pending" }
  case object Processing extends Status { val name = "processing" }
  case object Done extends Status { val name = "done" }
  case object FailedStatus extends Status { val name = "failed" }

  /** Legal chunk-status transitions: pending→processing→done|failed; a
    * failed chunk may be re-queued. Anything else is rejected, preserving
    * the reference's single-direction lifecycle. */
  def transition(from: Status, to: Status): Either[String, Status] =
    (from, to) match {
      case (Pending, Processing) => Right(Processing)
      case (Processing, Done) => Right(Done)
      case (Processing, FailedStatus) => Right(FailedStatus)
      case (FailedStatus, Pending) => Right(Pending)
      case _ => Left(s"illegal transition ${from.name} -> ${to.name}")
    }

  // ---- T4: single-flight FIFO controller (lambda/controller.py:38-133) ----

  final case class Chunk(batchId: String, createdAt: Long, status: Status)

  /** The controller's decision: if anything is in flight, do nothing;
    * else pick the FIFO-earliest pending chunk (W2/W3 as pure logic). */
  def nextChunk(chunks: Seq[Chunk]): Option[Chunk] =
    if (chunks.exists(_.status == Processing)) None
    else chunks.filter(_.status == Pending)
      .sortBy(c => (c.createdAt, c.batchId)).headOption

  // ---- T7: retry with exponential backoff (stepfunction.json:71-89) -------

  /** Marks a DETERMINISTIC failure (a data error whose outcome cannot
    * change on re-execution — null gates, referential violations):
    * [[withRetry]] fails immediately instead of re-running the full
    * validation jobs per attempt. Mirrors the reference, where a failed
    * validation RESULT ends the execution (confirm_status marks failed)
    * — the Step Function's retry policy covers task crashes, not data
    * verdicts. */
  final class NonRetryableFailure(msg: String) extends RuntimeException(msg)

  /** Retry `op` up to `attempts` times with `interval × backoff^n` sleeps —
    * the Step Function's retry policy as a driver-side combinator. */
  @tailrec
  def withRetry[A](attempts: Int, intervalMs: Long, backoff: Double = 2.0)(
      op: () => A): Try[A] =
    Try(op()) match {
      case s @ Success(_) => s
      case f @ Failure(_: NonRetryableFailure) => f
      case Failure(_) if attempts > 1 =>
        Thread.sleep(intervalMs)
        withRetry(attempts - 1, (intervalMs * backoff).toLong, backoff)(op)
      case f => f
    }

  // ---- S10: quarantine (lambda/s3_validation.py:138-157) ------------------

  /** Move an invalid input file under `rejected/<fileType>/` and write a
    * `<name>.reason.json` alongside — the badRecordsPath-style quarantine. */
  def quarantine(file: java.nio.file.Path, rejectedRoot: java.nio.file.Path,
      fileType: String, reason: String): java.nio.file.Path = {
    val dir = rejectedRoot.resolve(fileType)
    java.nio.file.Files.createDirectories(dir)
    val dest = dir.resolve(file.getFileName)
    java.nio.file.Files.move(file, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.io.Sources.writeResultJson(
      dest.toString + ".reason.json",
      Map("status" -> "rejected", "reason" -> reason))
    dest
  }
}
