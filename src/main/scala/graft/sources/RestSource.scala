package graft.sources

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Paginated REST API source (reference: src/Sources/RestApi;
  * SURVEY.md §2.1 S4, §2.10), rebuilt as a driver-side fetch loop whose
  * records are parallelized into DataFrames.
  *
  * The HTTP round-trip is behind [[HttpFetch]] so the pagination/
  * templating/auth state machines are testable offline (the reference
  * tests them with mocked HttpClient the same way). Pagination state is
  * an explicit serializable value ([[PageState]]) — persist it in a
  * checkpoint to resume mid-pagination, improving on the reference's
  * in-memory pointers (SURVEY.md §2.10).
  */
object RestSource {
  private val mapper = new ObjectMapper()

  /** The single seam to the outside world. */
  trait HttpFetch {
    /** Returns the response body, or None for tolerated transient
      * statuses (429/408 — reference: RestApiSource.cs:503-515). */
    def fetch(uri: String, headers: Map[String, String], body: Option[String]): Option[String]
  }

  /** Auth providers (reference: §2.10 FixedHeader / DynamicBearer). */
  trait AuthProvider { def headers(): Map[String, String] }

  final case class FixedHeaderAuth(fixed: Map[String, String]) extends AuthProvider {
    override def headers(): Map[String, String] = fixed
  }

  /** Bearer token fetched from an auth endpoint and cached until
    * shortly before expiry (reference:
    * DynamicBearerAuthenticatedMessageProvider.cs:99-153).
    *
    * Token-request parity with the reference:
    *  - `tokenRequestContentType` "application/json" (default) sends the
    *    body as-is; "application/x-www-form-urlencoded" treats the body
    *    as a flat JSON object and sends it form-encoded — the
    *    reference's FormUrlEncodedContent branch (.cs:110-119).
    *  - expiry: `fixedTtlSeconds`, when set, is the reference's
    *    fixed-`expirationPeriod` constructor (.cs:79-99) — the response
    *    is not consulted for a TTL; otherwise `expiresInField` names the
    *    response property carrying seconds-to-expiry (default 3600 when
    *    absent).
    *
    * Header-emission parity (GetRequest, .cs:134-153):
    *  - headerName null/empty/"Authorization" → one `Authorization`
    *    header valued `"<scheme or Bearer> <token>"`;
    *  - any other headerName → valued `"<scheme> <token>"`, or the bare
    *    token when the scheme is empty (API-key-style headers);
    *  - `additionalHeaders` ride EVERY authenticated request
    *    (.cs:147-150). */
  final class DynamicBearerAuth(
      fetcher: HttpFetch,
      tokenUri: String,
      tokenRequestBody: Option[String],
      tokenField: String = "token",
      expiresInField: String = "expiresIn",
      headerName: String = "Authorization",
      scheme: String = "Bearer",
      tokenRequestContentType: String = "application/json",
      fixedTtlSeconds: Option[Long] = None,
      additionalHeaders: Map[String, String] = Map.empty,
      clock: () => Long = () => System.currentTimeMillis()) extends AuthProvider {
    private var cached: Option[(String, Long)] = None

    private def formEncode(jsonBody: String): String = {
      val node = mapper.readTree(jsonBody)
      if (!node.isObject)
        throw new IllegalArgumentException(
          "form-encoded token request body must be a flat JSON object")
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      val b = Vector.newBuilder[String]
      node.fields().forEachRemaining(e => b += s"${enc(e.getKey)}=${enc(e.getValue.asText())}")
      b.result().mkString("&")
    }

    override def headers(): Map[String, String] = synchronized {
      val now = clock()
      val token = cached match {
        case Some((t, expiry)) if now < expiry => t
        case _ =>
          val body = tokenRequestContentType match {
            case "application/x-www-form-urlencoded" => tokenRequestBody.map(formEncode)
            case "application/json" | null | "" => tokenRequestBody
            case other => throw new IllegalArgumentException(
              s"unsupported content type for authentication: $other")
          }
          val reqHeaders = tokenRequestBody match {
            case Some(_) => Map("Content-Type" -> Option(tokenRequestContentType)
              .filter(_.nonEmpty).getOrElse("application/json"))
            case None => Map.empty[String, String]
          }
          val resp = fetcher.fetch(tokenUri, reqHeaders, body)
            .getOrElse(throw new RuntimeException("auth endpoint unavailable"))
          val node = mapper.readTree(resp)
          if (!node.hasNonNull(tokenField))
            throw new RuntimeException(
              s"auth response has no '$tokenField' field: $resp")
          val t = node.get(tokenField).asText()
          val ttlSec = fixedTtlSeconds.getOrElse(node.path(expiresInField).asLong(3600L))
          cached = Some((t, now + (ttlSec - 60L) * 1000L)) // renew 60s early
          t
      }
      val name = Option(headerName).filter(_.nonEmpty).getOrElse("Authorization")
      val value =
        if (name == "Authorization")
          s"${Option(scheme).filter(_.nonEmpty).getOrElse("Bearer")} $token"
        else if (scheme == null || scheme.isEmpty) token
        else s"$scheme $token"
      // Auth header wins a key collision: the reference adds additional
      // headers to HttpRequestMessage.Headers (GetRequest.cs:147-150),
      // which APPENDS a second value rather than replacing the auth one.
      // A Scala Map can't carry two values for one key, so the closest
      // faithful semantics is "the computed auth header is never
      // silently dropped" — additionalHeaders first, auth last.
      additionalHeaders ++ Map(name -> value)
    }
  }

  /** URL/body template: `@field` placeholders resolved against a value
    * map (reference: RestApiTemplate.cs:33-106).
    *
    * Absolute-URI override (reference .cs:72-79): when a value bound to
    * a field THAT THE TEMPLATE REFERENCES is itself an absolute URI —
    * e.g. a next-token API returning the full URL of the following page
    * — the resolved result IS that URI; the template is discarded. */
  def resolveTemplate(template: String, values: Map[String, String]): String = {
    val referenced = values.toSeq
      .filter { case (k, _) => template.contains("@" + k) }
      .sortBy(-_._1.length) // longest-first so @dateFrom wins over @date
    referenced.collectFirst {
      case (_, v) if isAbsoluteUri(v) => v
    }.getOrElse(
      referenced.foldLeft(template) { case (acc, (k, v)) => acc.replace("@" + k, v) })
  }

  private def isAbsoluteUri(v: String): Boolean =
    try { val u = new java.net.URI(v); u.isAbsolute && u.getScheme != null }
    catch { case _: java.net.URISyntaxException => false }

  /** Serializable pagination offset. Persist via [[PageState.toJson]]
    * in an [[graft.runtime.OffsetStore]] so a restart resumes
    * mid-pagination instead of re-sweeping (improvement over the
    * reference's in-memory pointer, PagedUriProvider.cs:25,67-71). */
  final case class PageState(
      pointer: Option[String],
      pagesRead: Int,
      exhausted: Boolean)

  object PageState {
    val initial: PageState = PageState(None, 0, exhausted = false)

    def toJson(s: PageState): String = {
      val node = mapper.createObjectNode()
      s.pointer.foreach(node.put("pointer", _))
      node.put("pagesRead", s.pagesRead)
      node.put("exhausted", s.exhausted)
      node.toString
    }

    def fromJson(json: String): PageState = {
      val node = mapper.readTree(json)
      PageState(
        pointer = if (node.hasNonNull("pointer")) Some(node.get("pointer").asText()) else None,
        pagesRead = node.path("pagesRead").asInt(0),
        exhausted = node.path("exhausted").asBoolean(false))
    }
  }

  /** Page-pointer state machines (reference: §2.10 PageResolvers). */
  sealed trait PageResolver {
    /** Next state given the last response (None before the first call). */
    def next(state: PageState, lastResponse: Option[JsonNode]): PageState
  }

  /** 1-based counter bounded by a total-pages field read from the first
    * response (reference: PageCountingResolver.cs:28-62). */
  final case class PageCountingResolver(totalPagesKeyChain: Seq[String]) extends PageResolver {
    override def next(state: PageState, lastResponse: Option[JsonNode]): PageState =
      lastResponse match {
        case None => PageState(Some("1"), 0, exhausted = false)
        case Some(resp) =>
          val total = keyChain(resp, totalPagesKeyChain).map(_.asLong(0L)).getOrElse(0L)
          val current = state.pointer.map(_.toLong).getOrElse(1L)
          if (current < total) PageState(Some((current + 1).toString), state.pagesRead + 1, exhausted = false)
          else PageState(None, state.pagesRead + 1, exhausted = true)
      }
  }

  /** Offset pointer advanced by a fixed page size. Reference semantics
    * (PageOffsetResolver.cs:31-59, sequence asserted by
    * PageResolverTests.cs:13-22): only an EMPTY content array ends
    * pagination (a short final page does not); an empty response before
    * pagination started initializes the pointer instead of stopping. */
  final case class PageOffsetResolver(responseSize: Int, contentKeyChain: Seq[String],
      startOffset: Long = 0L) extends PageResolver {
    override def next(state: PageState, lastResponse: Option[JsonNode]): PageState =
      lastResponse match {
        case None =>
          if (state.pointer.isDefined) PageState(None, state.pagesRead, exhausted = true)
          else PageState(Some(startOffset.toString), state.pagesRead, exhausted = false)
        case Some(resp) =>
          val n = keyChain(resp, contentKeyChain)
            .map(c => if (c.isArray) c.size() else 0).getOrElse(0)
          if (n == 0) {
            if (state.pointer.isEmpty)
              PageState(Some(startOffset.toString), state.pagesRead + 1, exhausted = false)
            else PageState(None, state.pagesRead + 1, exhausted = true)
          } else PageState(
            Some((state.pointer.map(_.toLong).getOrElse(startOffset) + responseSize).toString),
            state.pagesRead + 1, exhausted = false)
      }
  }

  /** Continuation token extracted from each response; stops when the
    * token property is missing/null (reference:
    * PageNextTokenResolver.cs:25-51). */
  final case class PageNextTokenResolver(tokenKeyChain: Seq[String]) extends PageResolver {
    override def next(state: PageState, lastResponse: Option[JsonNode]): PageState =
      lastResponse match {
        case None => PageState(None, 0, exhausted = false)
        case Some(resp) => keyChain(resp, tokenKeyChain) match {
          case Some(tok) if !tok.isNull && tok.asText().nonEmpty =>
            PageState(Some(tok.asText()), state.pagesRead + 1, exhausted = false)
          case _ => PageState(None, state.pagesRead + 1, exhausted = true)
        }
      }
  }

  /** Parse a response body to a JSON tree (shared with the DSv2
    * source's driver-side sizing probe). */
  def parseJson(body: String): JsonNode = mapper.readTree(body)

  /** Tolerant property-key-chain traversal (reference:
    * RestApiExtensions.cs:19-52 — missing keys yield nothing, not an
    * error). */
  def keyChain(node: JsonNode, chain: Seq[String]): Option[JsonNode] =
    chain.foldLeft(Option(node)) {
      case (Some(n), key) if n.has(key) => Some(n.get(key))
      case _ => None
    }

  /** Extract the record array from a response body; non-array single
    * objects are emitted as one record. */
  def extractRecords(body: String, recordKeyChain: Seq[String]): Seq[String] = {
    val root = mapper.readTree(body)
    keyChain(root, recordKeyChain) match {
      case Some(n) if n.isArray =>
        val b = Vector.newBuilder[String]; n.forEach(e => b += e.toString); b.result()
      case Some(n) if n.isObject => Vector(n.toString)
      case _ if recordKeyChain.isEmpty && root.isArray =>
        val b = Vector.newBuilder[String]; root.forEach(e => b += e.toString); b.result()
      case _ => Vector.empty
    }
  }

  val IsoFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)

  /** Date-range template values for one poll (reference:
    * SimpleUriProvider.cs:47-108 — backfill reads from
    * `backFillStartDate`, stream mode from now − lookback). */
  def dateRange(
      isBackfilling: Boolean,
      backfillStart: Instant,
      lookBack: java.time.Duration,
      now: Instant): Map[String, String] = {
    val from = if (isBackfilling) backfillStart else now.minus(lookBack)
    Map(
      "dateFrom" -> IsoFormat.format(from),
      "dateTo" -> IsoFormat.format(now),
      "date" -> IsoFormat.format(from))
  }

  /** Reference templated-field types (TemplatedFieldType enum used by
    * SimpleUriProvider.cs:70-89 / PagedUriProvider.cs:74-111). */
  object TemplatedFieldType {
    val FilterDateFrom = "FILTER_DATE_FROM"
    val FilterDateBetweenFrom = "FILTER_DATE_BETWEEN_FROM"
    val FilterDateBetweenTo = "FILTER_DATE_BETWEEN_TO"
    val ResponsePage = "RESPONSE_PAGE"
    val all: Set[String] =
      Set(FilterDateFrom, FilterDateBetweenFrom, FilterDateBetweenTo, ResponsePage)
  }

  /** One declared template field: the NAME appears as `@name` in the
    * URI/body template, the TYPE decides which value is injected —
    * exactly the reference's RestApiTemplatedField model, so a stream
    * spec written for the reference templates as-is (VERDICT r2
    * missing #4: we had renamed the vocabulary to @dateFrom/@page). */
  final case class TemplatedField(name: String, fieldType: String) {
    require(TemplatedFieldType.all.contains(fieldType),
      s"unknown templated field type '$fieldType'")
  }

  /** Values for a set of declared fields, with the reference's date
    * selection (SimpleUriProvider.cs:63-69): backfill reads from
    * `backfillStart`; the FIRST stream poll from now − `lookBack`;
    * subsequent polls from now − `changeCapture`. RESPONSE_PAGE binds
    * the pagination pointer when one exists. Feed the result straight
    * to [[resolveTemplate]] / [[RestSource.sweepChunksWithState]]. */
  def templatedFieldValues(
      fields: Seq[TemplatedField],
      isBackfilling: Boolean,
      backfillStart: Instant,
      lookBack: java.time.Duration,
      changeCapture: java.time.Duration,
      isFirstPoll: Boolean,
      now: Instant,
      page: Option[String] = None): Map[String, String] = {
    val from =
      if (isBackfilling) backfillStart
      else if (isFirstPoll) now.minus(lookBack)
      else now.minus(changeCapture)
    fields.flatMap { f =>
      f.fieldType match {
        case TemplatedFieldType.FilterDateFrom |
             TemplatedFieldType.FilterDateBetweenFrom =>
          Some(f.name -> IsoFormat.format(from))
        case TemplatedFieldType.FilterDateBetweenTo =>
          Some(f.name -> IsoFormat.format(now))
        case TemplatedFieldType.ResponsePage =>
          page.map(f.name -> _)
        case _ => None
      }
    }.toMap
  }
}

/** Raised when a page stays transiently unavailable (429/408) past the
  * bounded retry budget. The page retries happen in place (see
  * [[RestSource]]); past them the exception fails the running query,
  * which the stream host maps to exit FATAL. Unlike the reference's
  * restart-on-timeout decider (RestApiSource.cs:355-361), nothing
  * retries the stream itself. */
final class TransientFetchException(uri: String, attempts: Int)
    extends java.util.concurrent.TimeoutException(
      s"page unavailable after $attempts attempts: $uri")

/** One polling REST stream: template → auth → fetch → extract →
  * paginate.
  *
  * Production paths consume [[sweepChunks]] — a lazy iterator emitting
  * one DataFrame per `pagesPerChunk` pages, so at most one chunk of
  * records is ever resident on the driver (the reference buffers
  * nothing but also emits row-at-a-time; a whole-sweep buffer would
  * violate the 100 TB rule, SURVEY.md §7.4). [[sweep]] materializes the
  * union for tests/small pulls.
  *
  * A transient fetch failure (429/408 → None) is retried in place with
  * linear backoff rather than silently truncating the sweep (the
  * reference retries transient statuses; RestApiSource.cs:503-515);
  * exhausting the budget raises [[TransientFetchException]].
  */
final class RestSource(
    spark: SparkSession,
    fetcher: RestSource.HttpFetch,
    auth: RestSource.AuthProvider,
    uriTemplate: String,
    resolver: Option[RestSource.PageResolver],
    recordKeyChain: Seq[String],
    apiSchema: Option[StructType] = None,
    maxPages: Int = 10000,
    pagesPerChunk: Int = 100,
    maxRetriesPerPage: Int = 3,
    backoff: Int => Unit = attempt => Thread.sleep(1000L * attempt),
    rateLimiter: Option[graft.runtime.TokenBucket] = None,
    // template name the pagination pointer binds to — "page" by default,
    // or the declared RESPONSE_PAGE field's name (reference vocabulary)
    pageFieldName: String = "page",
    // templated request BODY, resolved against the same values as the
    // URI and sent with every page request (the reference's
    // SimpleUriProvider bodyTemplate + POST polling,
    // SimpleUriProvider.cs:32-41,78-99); None = GET-style, no payload
    bodyTemplate: Option[String] = None) {

  import RestSource._

  /** Fetch one page, rate-limited and retrying tolerated transient
    * failures (the reference wraps every pull in its Polly rate-limit
    * policy, RestApiSource.cs:444-447). */
  private def fetchWithRetry(uri: String, body: Option[String]): String = {
    var attempt = 0
    while (attempt <= maxRetriesPerPage) {
      rateLimiter.foreach(_.acquire())
      fetcher.fetch(uri, auth.headers(), body) match {
        case Some(body) => return body
        case None =>
          attempt += 1
          if (attempt <= maxRetriesPerPage) backoff(attempt)
      }
    }
    throw new TransientFetchException(uri, maxRetriesPerPage + 1)
  }

  /** Lazily run one pagination sweep, emitting one (DataFrame,
    * resume-state) pair per `pagesPerChunk` pages. Pages are fetched
    * on demand as the caller advances the iterator; checkpointing the
    * emitted state after writing the chunk makes a restart resume at
    * exactly the next unread page (zero duplicate pages). */
  def sweepChunksWithState(
      templateValues: Map[String, String],
      resumeFrom: Option[PageState] = None): Iterator[(DataFrame, PageState)] =
    new Iterator[(DataFrame, PageState)] {
      private var state = resumeFrom.getOrElse(
        resolver.map(_.next(PageState.initial, None)).getOrElse(PageState.initial))
      private var pages = 0
      private var continue = !state.exhausted

      override def hasNext: Boolean = continue && pages < maxPages

      override def next(): (DataFrame, PageState) = {
        val records = Vector.newBuilder[String]
        var inChunk = 0
        while (continue && pages < maxPages && inChunk < pagesPerChunk) {
          val values = templateValues ++ state.pointer.map(pageFieldName -> _).toMap
          val uri = resolveTemplate(uriTemplate, values)
          val payload = bodyTemplate.map(resolveTemplate(_, values))
          val body = fetchWithRetry(uri, payload)
          records ++= extractRecords(body, recordKeyChain)
          val lastResponse = Some(RestSource.mapper.readTree(body))
          pages += 1
          inChunk += 1
          resolver match {
            case Some(r) =>
              state = r.next(state, lastResponse)
              continue = !state.exhausted
            case None => continue = false // non-paginated: one request per poll
          }
        }
        (toDataFrame(records.result()), state)
      }
    }

  /** Chunked sweep without state tracking. */
  def sweepChunks(templateValues: Map[String, String]): Iterator[DataFrame] =
    sweepChunksWithState(templateValues).map(_._1)

  /** Run one full pagination sweep and return all records as a single
    * DataFrame (schema applied via from_json when declared, inferred
    * otherwise). Prefer [[sweepChunks]] for unbounded APIs. */
  def sweep(templateValues: Map[String, String]): DataFrame = {
    val chunks = sweepChunks(templateValues)
    if (!chunks.hasNext) toDataFrame(Vector.empty)
    // allowMissingColumns: chunk schemas can differ when inferred
    else chunks.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def toDataFrame(jsonRecords: Seq[String]): DataFrame = {
    import spark.implicits._
    val ds = spark.createDataset(jsonRecords)
    apiSchema match {
      case Some(schema) =>
        ds.toDF("json").select(from_json(col("json"), schema).as("r")).select("r.*")
      case None => spark.read.json(ds)
    }
  }
}
