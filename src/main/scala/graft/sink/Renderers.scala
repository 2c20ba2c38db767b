package graft.sink

import graft.model._
import graft.transform.TimeUtils

/** Payload renderers for every destination branch (SURVEY §2.4).
  *
  * Each mirrors the request bodies its reference uploader constructs — the
  * behavior the reference's own tests assert — with file:line citations.
  * API lookups that require a live endpoint (GAQL conversion-action lookup,
  * audience find-by-name) are rendered as deterministic resource
  * descriptors; the REQUEST PAYLOADS are the contract.
  */

object Renderers {

  // ------------------------------------------------------------- helpers

  private[sink] def digits(s: String): String =
    graft.model.AccountConfig.digitsOnly(s) // one normalization, one place

  private def meta(e: Execution): Seq[String] = e.destination.metadata

  private def metaAt(e: Execution, i: Int): Option[String] =
    meta(e).lift(i).filter(_.nonEmpty)

  private def str(v: Any): String = if (v == null) "" else v.toString

  private def present(row: Map[String, Any], k: String): Boolean =
    row.get(k).exists(v => v != null && v != "")

  /** `google_ads_offline_conversions_uploader.py:52-58` (metadata[1]) and
    * `customer_match/abstract_uploader.py:145-151` (metadata[4]).
    */
  private def adsCustomerId(e: Execution, metaIdx: Int): String =
    metaAt(e, metaIdx).map(digits).getOrElse(e.account.googleAdsAccountId)

  /** mcc → login with the MCC account id (`abstract_uploader.py:153-160`). */
  private def adsLoginCustomerId(e: Execution, customerId: String): String =
    if (e.account.mccTrix) e.account.googleAdsAccountId else customerId

  /** Offline stand-in for the GAQL conversion-action lookup
    * (`google_ads_offline_conversions_uploader.py:146-152`).
    */
  private def conversionActionResource(customerId: String, name: String): String =
    s"customers/$customerId/conversionActions/$name"

  private def requireMeta0(e: Execution): String = {
    val m = meta(e)
    require(m.nonEmpty && m.head.nonEmpty,
      s"Missing destination information. Received ${m.mkString("[", ", ", "]")}")
    m.head
  }

  private def jrow(v: Any): JVal = Json.of(v)

  /** consent {ad_user_data, ad_personalization} when both row fields present
    * (OCI `:124-129`).
    */
  private def rowConsent(row: Map[String, Any]): Seq[(String, JVal)] =
    if (row.contains("consent_ad_user_data") && row.contains("consent_ad_personalization"))
      Seq("consent" -> Json.obj(
        "ad_user_data" -> jrow(row("consent_ad_user_data")),
        "ad_personalization" -> jrow(row("consent_ad_personalization"))))
    else Seq.empty

  // --------------------------------------------- Ads offline conversions

  /** OCI click (`google_ads_offline_conversions_uploader.py:30-161`). */
  object AdsOfflineClick extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] =
      renderWith(e, rows, serviceName = "upload_click_conversions") { row =>
        Json.obj(
          "conversion_action" -> JStr(conversionActionResource(adsCustomerId(e, 1), requireMeta0(e))),
          "conversion_date_time" -> JStr(TimeUtils.formatDate(str(row("time")))),
          "conversion_value" -> JDouble(str(row("amount")).toDouble),
          "gclid" -> jrow(row("gclid"))) ++
          externalAttribution(row) ++ rowConsent(row)
      }

    private[Renderers] def renderWith(e: Execution, rows: Seq[Map[String, Any]],
        serviceName: String)(one: Map[String, Any] => JObj): Seq[RenderedRequest] = {
      requireMeta0(e)
      val customerId = adsCustomerId(e, 1)
      val login = adsLoginCustomerId(e, customerId)
      val body = Json.obj(
        "customer_id" -> JStr(customerId),
        "partial_failure" -> JBool(true),
        "validate_only" -> JBool(false),
        "conversions" -> JArr(rows.map(one)))
      Seq(RenderedRequest(serviceName,
        s"googleads://$login/ConversionUploadService.$serviceName",
        body.render, rows.indices))
    }

    private[sink] def externalAttribution(row: Map[String, Any]): Seq[(String, JVal)] =
      if (row.contains("external_attribution_credit") && row.contains("external_attribution_model"))
        Seq("external_attribution_data" -> Json.obj(
          "external_attribution_credit" -> JDouble(str(row("external_attribution_credit")).toDouble),
          "external_attribution_model" -> jrow(row("external_attribution_model"))))
      else Seq.empty
  }

  /** OCI calls (`google_ads_offline_conversions_calls_uploader.py:31-137`). */
  object AdsOfflineCalls extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] =
      AdsOfflineClick.renderWith(e, rows, serviceName = "upload_call_conversions") { row =>
        Json.obj(
          "conversion_action" -> JStr(conversionActionResource(adsCustomerId(e, 1), requireMeta0(e))),
          "caller_id" -> jrow(row("caller_id")),
          "call_start_date_time" -> JStr(TimeUtils.formatDate(str(row("call_time")))),
          "conversion_date_time" -> JStr(TimeUtils.formatDate(str(row("time")))),
          "conversion_value" -> JDouble(str(row("amount")).toDouble)) ++ rowConsent(row)
      }
  }

  /** OCA shared shape (`google_ads_offline_conversion_adjustments_uploader
    * .py:31-177` + gclid/order-id variants).
    */
  private def adjustments(e: Execution, rows: Seq[Map[String, Any]],
      keyed: (Map[String, Any], String) => Seq[(String, JVal)]): Seq[RenderedRequest] = {
    val m = meta(e)
    require(m.nonEmpty && m.head.nonEmpty, s"Missing Metadata 1. Received $m")
    require(m.length > 2 && m(2).nonEmpty, s"Missing Metadata 3. Received $m")
    val adjustmentType = m(2)
    val customerId = adsCustomerId(e, 1)
    val login = adsLoginCustomerId(e, customerId)
    val resource = conversionActionResource(customerId, m.head)
    val adjs = rows.map { row =>
      JObj(Seq(
        "adjustment_type" -> JStr(adjustmentType),
        "restatement_value" -> Json.obj(
          "adjusted_value" -> (if (adjustmentType == "RESTATEMENT")
            JDouble(str(row("amount")).toDouble) else JNull),
          "currency_code" -> JNull),
        "conversion_action" -> JStr(resource),
        "adjustment_date_time" -> JStr(TimeUtils.formatDate(str(row("time"))))) ++
        keyed(row, resource))
    }
    val body = Json.obj(
      "customer_id" -> JStr(customerId),
      "partial_failure" -> JBool(true),
      "validate_only" -> JBool(false),
      "conversion_adjustments" -> JArr(adjs))
    Seq(RenderedRequest("upload_conversion_adjustments",
      s"googleads://$login/ConversionAdjustmentUploadService.upload_conversion_adjustments",
      body.render, rows.indices))
  }

  /** OCA gclid (`...adjustments_uploader_gclid.py:23-69`). */
  object AdsAdjustmentGclid extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] =
      adjustments(e, rows, (row, _) => Seq(
        "gclid_date_time_pair" -> Json.obj(
          "gclid" -> jrow(row("gclid")),
          "conversion_date_time" -> JStr(TimeUtils.formatDate(str(row("conversion_time")))))))
  }

  /** OCA order-id (`...adjustments_uploader_order_id.py:23-65`). */
  object AdsAdjustmentOrderId extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] =
      adjustments(e, rows, (row, _) => Seq("order_id" -> jrow(row("order_id"))))
  }

  /** Enhanced conversions for leads
    * (`google_ads_enhanced_conversions_leads_uploader.py:30-189`): click
    * conversions whose identifiers are the hashed email/phone.
    */
  object AdsECLeads extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] =
      AdsOfflineClick.renderWith(e, rows, serviceName = "upload_click_conversions") { row =>
        Json.obj(
          "conversion_action" -> JStr(conversionActionResource(adsCustomerId(e, 1), requireMeta0(e))),
          "conversion_date_time" -> JStr(TimeUtils.formatDate(str(row("time")))),
          "conversion_value" -> JDouble(str(row("amount")).toDouble),
          "user_identifiers" -> JArr(row.toSeq.collect {
            case (k, v) if k == "hashed_email" || k == "hashed_phone_number" =>
              Json.obj(k -> jrow(v))
          })) ++ AdsOfflineClick.externalAttribution(row) ++ rowConsent(row)
      }
  }

  // ------------------------------------------------- Ads customer match

  /** Shared CM flow (`customer_match/abstract_uploader.py:33-281`):
    * ensure list (iteration 1), create job (iteration 1), one operation per
    * user-identifier per row, REPLACE → remove_all on iteration 1 only.
    */
  final case class AdsCustomerMatch(variant: String) extends PayloadRenderer {

    private def listDefinition(e: Execution): JObj = {
      val m = meta(e)
      val listName = m.head
      val lifeSpan = m.lift(5).filter(_.nonEmpty).map(_.toLong).getOrElse(10000L)
      variant match {
        // contact_info_uploader.py:25-45 (life span fixed at 10000)
        case "contact_info" => Json.obj(
          "membership_status" -> JStr("OPEN"),
          "name" -> JStr(listName),
          "description" -> JStr("List created automatically by Megalista"),
          "membership_life_span" -> JLong(10000L),
          "crm_based_user_list" -> Json.obj(
            "upload_key_type" -> JStr("CONTACT_INFO"),
            "data_source_type" -> JStr("FIRST_PARTY")))
        // mobile_uploader.py:26-57 (app id override metadata[3])
        case "mobile" =>
          val appId = m.lift(3).filter(_.nonEmpty).getOrElse(e.account.appId)
          Json.obj(
            "membership_status" -> JStr("OPEN"),
            "name" -> JStr(listName),
            "description" -> JStr("List created automatically by Megalista"),
            "membership_life_span" -> JLong(lifeSpan),
            "crm_based_user_list" -> Json.obj(
              "upload_key_type" -> JStr("MOBILE_ADVERTISING_ID"),
              "data_source_type" -> JStr("FIRST_PARTY"),
              "app_id" -> JStr(appId)))
        // user_id_uploader.py:21-51
        case "user_id" => Json.obj(
          "membership_status" -> JStr("OPEN"),
          "name" -> JStr(listName),
          "description" -> JStr("List created automatically by Megalista"),
          "membership_life_span" -> JLong(lifeSpan),
          "crm_based_user_list" -> Json.obj(
            "upload_key_type" -> JStr("CRM_ID"),
            "data_source_type" -> JStr("FIRST_PARTY")))
      }
    }

    private def rowKeys: Seq[String] = variant match {
      case "contact_info" => Seq("hashed_email", "address_info", "hashed_phone_number")
      case "mobile"       => Seq("mobile_id")
      case "user_id"      => Seq("third_party_user_id")
    }

    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val listName = requireMeta0(e)
      val customerId = adsCustomerId(e, 4)
      val login = adsLoginCustomerId(e, customerId)
      val rawOperator = meta(e)(1)
      // ADD/REMOVE/REPLACE → create/remove/create (abstract_uploader.py:184-190)
      val operator = Map("ADD" -> "create", "REMOVE" -> "remove", "REPLACE" -> "create")(rawOperator)
      val removeAll = rawOperator == "REPLACE" && it == 1L
      // consents from metadata[5,6] (abstract_uploader.py:198-211)
      val consents: Seq[(String, JVal)] =
        if (meta(e).length >= 7 && meta(e)(5) != null && meta(e)(6) != null)
          Seq("consent" -> Json.obj(
            "ad_user_data" -> JStr(meta(e)(5)),
            "ad_personalization" -> JStr(meta(e)(6))))
        else Seq.empty
      val listResource = s"customers/$customerId/userLists/$listName"
      val jobResource = s"customers/$customerId/offlineUserDataJobs/$listName:$operator"

      val filtered = rows.map(row => rowKeys.flatMap(k => row.get(k).map(k -> _)).toMap)
      val ops = Seq.newBuilder[JVal]
      if (removeAll) ops += Json.obj("remove_all" -> JBool(true))
      // one op per user-identifier per row (abstract_uploader.py:251-255)
      filtered.foreach { row =>
        rowKeys.filter(row.contains).foreach { k =>
          ops += Json.obj(operator -> Json.obj(
            "user_identifiers" -> JArr(Seq(Json.obj(k -> jrow(row(k)))))))
        }
      }

      val svc = s"googleads://$login/customers/$customerId/OfflineUserDataJobService"
      val ensure = if (it == 1L) Seq(
        RenderedRequest("ensure_user_list",
          s"googleads://$login/customers/$customerId/UserListService.create",
          listDefinition(e).render, Seq.empty),
        RenderedRequest("create_offline_user_data_job", s"$svc.create",
          Json.obj("type_" -> JStr("CUSTOMER_MATCH_USER_LIST"),
            "customer_match_user_list_metadata" -> (Json.obj(
              "user_list" -> JStr(listResource)) ++ consents)).render, Seq.empty))
      else Seq.empty

      ensure ++ Seq(
        RenderedRequest("add_offline_user_data_job_operations", s"$svc.add_operations",
          Json.obj(
            "resource_name" -> JStr(jobResource),
            "enable_partial_failure" -> JBool(true),
            "operations" -> JArr(ops.result())).render, rows.indices),
        RenderedRequest("run_offline_user_data_job", s"$svc.run",
          Json.obj("resource_name" -> JStr(jobResource)).render, Seq.empty))
    }
  }

  // ------------------------------------------------------------ Ads SSD/SSI

  /** SSD (`google_ads_ssd_uploader.py:26-160`). */
  object AdsSsd extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] =
      renderSsdLike(e, rows, customKey = None, consent = Seq.empty,
        currency = row => metaAt(e, 3).getOrElse("BRL"),
        excluded = Set("amount", "time"),
        amount = row => JLong(str(row("amount")).toDouble.toLong))

    private[Renderers] def renderSsdLike(e: Execution, rows: Seq[Map[String, Any]],
        customKey: Option[String], consent: Seq[(String, JVal)],
        currency: Map[String, Any] => String, excluded: Set[String],
        amount: Map[String, Any] => JVal): Seq[RenderedRequest] = {
      val conversionName = requireMeta0(e)
      val customerId = adsCustomerId(e, 4)
      val login = adsLoginCustomerId(e, customerId)
      val resource = conversionActionResource(customerId, conversionName)
      val jobResource = s"customers/$customerId/offlineUserDataJobs/ssd:$conversionName"
      val svc = s"googleads://$login/customers/$customerId/OfflineUserDataJobService"
      val jobPayload = Json.obj(
        "type_" -> JStr("STORE_SALES_UPLOAD_FIRST_PARTY"),
        "store_sales_metadata" -> (Json.obj(
          "loyalty_fraction" -> JDouble(1.0),
          "transaction_upload_fraction" -> JDouble(1.0)) ++
          customKey.map(k => "custom_key" -> (JStr(k): JVal)).toSeq))
      val ops = rows.map { row =>
        Json.obj("create" -> (Json.obj(
          "user_identifiers" -> JArr(row.toSeq.collect {
            case (k, v) if !excluded.contains(k) => Json.obj(k -> jrow(v))
          }),
          "transaction_attribute" -> (Json.obj(
            "conversion_action" -> JStr(resource),
            "currency_code" -> JStr(currency(row)),
            "transaction_amount_micros" -> amount(row),
            "transaction_date_time" -> JStr(TimeUtils.formatDate(str(row("time"))))) ++
            (if (row.contains("custom_value") && customKey.isDefined)
              Seq("custom_value" -> jrow(row("custom_value"))) else Seq.empty))) ++
          consent))
      }
      Seq(
        RenderedRequest("create_offline_user_data_job", s"$svc.create",
          jobPayload.render, Seq.empty),
        RenderedRequest("add_offline_user_data_job_operations", s"$svc.add_operations",
          Json.obj(
            "resource_name" -> JStr(jobResource),
            "enable_partial_failure" -> JBool(false),
            "operations" -> JArr(ops)).render, rows.indices),
        RenderedRequest("run_offline_user_data_job", s"$svc.run",
          Json.obj("resource_name" -> JStr(jobResource)).render, Seq.empty))
    }
  }

  /** SSI (`google_ads_ssi_uploader.py:27-262`): SSD + custom_key/value,
    * per-row currency, consent from metadata[4,5].
    */
  object AdsSsi extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val customKey = meta(e).lift(3).filter(s => s != null && s.nonEmpty)
      val consent = {
        val userData = metaAt(e, 4)
        val adPers = metaAt(e, 5)
        val fields = userData.map("ad_user_data" -> JStr(_)).toSeq ++
          adPers.map("ad_personalization" -> JStr(_)).toSeq
        if (fields.nonEmpty) Seq("consent" -> (JObj(fields.map { case (k, v) => k -> (v: JVal) }): JVal))
        else Seq.empty
      }
      AdsSsd.renderSsdLike(e, rows, customKey, consent,
        currency = row => str(row("currency_code")),
        excluded = Set("amount", "time", "currency_code", "custom_value"),
        amount = row => JLong(str(row("amount")).toDouble.toLong))
    }
  }

  // -------------------------------------------------------- Campaign Manager

  /** CM360 batchinsert
    * (`campaign_manager_conversion_uploader.py:30-162`): identifier priority
    * gclid > encryptedUserId > mobileDeviceId > matchId > dclid; default
    * quantity 1; ordinal = now micros; customVariables w/ kind.
    */
  final case class Cm360(nowMicros: Long) extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val m = meta(e)
      require(m.length == 2, s"Missing destination information. Found ${m.length}")
      require(m.head.nonEmpty && m(1).nonEmpty, s"Missing destination information. Received $m")
      val conversions = rows.map { row =>
        var o = Json.obj(
          "floodlightActivityId" -> JStr(m.head),
          "floodlightConfigurationId" -> JStr(m(1)),
          "timestampMicros" -> JLong(nowMicros))
        Seq("gclid", "encryptedUserId", "mobileDeviceId", "matchId", "dclid")
          .find(k => present(row, k))
          .foreach(k => o = o + (k -> jrow(row(k))))
        if (row.contains("value")) o = o + ("value" -> JDouble(str(row("value")).toDouble))
        o = o + ("quantity" -> (if (row.contains("quantity")) jrow(row("quantity")) else JLong(1L)))
        o = o + ("ordinal" -> (if (row.contains("ordinal")) jrow(row("ordinal"))
          else JStr(nowMicros.toString)))
        row.get("customVariables").foreach { cvs =>
          val arr = cvs.asInstanceOf[Seq[Map[String, Any]]].map(cv => Json.obj(
            "type" -> jrow(cv("type")), "value" -> jrow(cv("value")),
            "kind" -> JStr("dfareporting#customFloodlightVariable")))
          o = o + ("customVariables" -> JArr(arr))
        }
        if (row.contains("timestamp"))
          o = o + ("timestampMicros" -> JLong(TimeUtils.timestampMicros(str(row("timestamp")))))
        o
      }
      Seq(RenderedRequest("batchinsert",
        s"dfareporting://profiles/${e.account.campaignManagerProfileId}/conversions/batchinsert",
        Json.obj("conversions" -> JArr(conversions)).render, rows.indices))
    }
  }

  // ------------------------------------------------------ Google Analytics

  /** Python urllib.parse.quote with default safe='/' (UA MP hit encoding,
    * `google_analytics_measurement_protocol.py:38-39`).
    */
  private val PyQuoteUnreserved: Set[Char] =
    ((('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')) ++ "_.-~/").toSet

  private[sink] def pyQuote(s: String): String = {
    val unreserved = PyQuoteUnreserved // hoisted: called per field per row
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).map { b =>
      val c = (b & 0xFF).toChar
      if (b >= 0 && unreserved.contains(c)) c.toString else f"%%${b & 0xFF}%02X"
    }.mkString
  }

  /** UA Measurement Protocol (`google_analytics_measurement_protocol.py:
    * 29-114`): one `key=quote(value)&…` line per row, newline-joined batch
    * POST; hit type from metadata[2] (default "event").
    */
  object GaMeasurementProtocol extends PayloadRenderer {
    private val UA = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/74.0.3729.169 Safari/537.36"

    private[sink] def buildHit(e: Execution, row: Map[String, Any]): Seq[(String, Any)] = {
      val m = meta(e)
      val hitType = m.lift(2).getOrElse("event")
      val base = Seq.newBuilder[(String, Any)]
      base += "v" -> 1
      base += "tid" -> m.head
      base += "ni" -> m(1)
      base += "t" -> hitType
      base += "ds" -> "mp - megalista"
      row.keys.toSeq.filter(_.startsWith("client_id")).foreach(k => base += "cid" -> row(k))
      row.keys.toSeq.filter(_.startsWith("user_id")).foreach(k => base += "uid" -> row(k))
      base += "ua" -> UA
      row.keys.toSeq.filter(_.matches("c[dm]\\d+.*")).foreach(k => base += k -> row(k))
      row.keys.toSeq.filter(_.startsWith("campaign_source")).foreach(k => base += "cs" -> row(k))
      row.keys.toSeq.filter(_.startsWith("campaign_medium")).foreach(k => base += "cm" -> row(k))
      hitType match {
        case "event" =>
          base += "ea" -> row("event_action")
          base += "ec" -> row("event_category")
          base += "ev" -> row.get("event_value").orNull
          base += "el" -> row.get("event_label").orNull
          row.keys.toSeq.filter(k =>
            k.matches("p([a]|[r]\\d*[a-z]+).*") || k.matches("t([irast]).*") || k.startsWith("cu"))
            .foreach(k => base += k -> row(k))
        case "transaction" =>
          base += "ti" -> row("transaction_id")
          base += "ta" -> row.get("transaction_affiliation").orNull
          base += "tr" -> row.get("transaction_revenue").orNull
          base += "ts" -> row.get("transaction_shipping").orNull
          base += "tt" -> row.get("transaction_tax").orNull
          base += "cu" -> row.get("currency_code").orNull
        case "item" =>
          base += "ti" -> row("transaction_id")
          base += "in" -> row.get("item_name").orNull
          base += "ip" -> row.get("item_price").orNull
          base += "iq" -> row.get("item_quantity").orNull
          base += "ic" -> row.get("item_code").orNull
          base += "iv" -> row.get("item_variation").orNull
          base += "cu" -> row.get("currency_code").orNull
        case other =>
          // reference behavior (google_analytics_measurement_protocol.py:
          // 93-96): the unsupported type is RECORDED as an error but the
          // hit still posts with the common fields — a throw here would
          // fail the whole batch instead
          System.err.println(s"[graft] Hit type $other is not supported.")
      }
      base.result()
    }

    private[sink] def formatHit(fields: Seq[(String, Any)]): String =
      fields.collect { case (k, v) if v != null => s"$k=${pyQuote(str(v))}" }.mkString("&")

    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val body = rows.map(r => formatHit(buildHit(e, r))).mkString("\n")
      Seq(RenderedRequest("ga_mp_batch", "https://www.google-analytics.com/batch",
        body, rows.indices))
    }
  }

  /** GA4 Measurement Protocol
    * (`google_analytics_4_measurement_protocol.py:28-139`): per-row POST,
    * exactly-one-of validations, reserved-key filtering.
    */
  object Ga4MeasurementProtocol extends PayloadRenderer {
    private val Reserved = Seq("app_instance_id", "client_id", "uuid", "user_id", "timestamp_micros")

    private def one(a: Option[Any], b: Option[Any]): Boolean = {
      def truthy(o: Option[Any]) = o.exists(v => v != null && v != "" && v != false)
      truthy(a) ^ truthy(b)
    }

    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val m = meta(e)
      val apiSecret = m.head
      val isEvent = m(1).toLowerCase == "true"
      val isUserProperty = m(2).toLowerCase == "true"
      val nonPersonalizedAds = m(3).toLowerCase == "true"
      val firebaseAppId = m.lift(4).filter(_.nonEmpty)
      val measurementId = m.lift(5).filter(_.nonEmpty)
      require(apiSecret.nonEmpty, "GA4 MP should be called with a non-null api_secret")
      require(one(firebaseAppId, measurementId),
        "GA4 MP should be called either with a firebase_app_id (for apps) or a measurement_id (for web)")
      require(isEvent ^ isUserProperty,
        "GA4 MP should be called either for sending events or a user properties")

      rows.zipWithIndex.map { case (row, idx) =>
        val appInstanceId = row.get("app_instance_id").filter(v => v != null && v != "")
        val clientId = row.get("client_id").filter(v => v != null && v != "")
        require(one(appInstanceId, clientId),
          "GA4 MP should be called either with an app_instance_id (for apps) or a client_id (for web)")
        var payload = Json.obj("nonPersonalizedAds" -> JBool(nonPersonalizedAds))
        def params(extraReserved: Seq[String]) = JObj(row.toSeq.collect {
          case (k, v) if !(Reserved ++ extraReserved).contains(k) && v != null && v != "" =>
            k -> jrow(v)
        })
        if (isEvent)
          payload = payload + ("events" -> JArr(Seq(Json.obj(
            "name" -> jrow(row("name")), "params" -> params(Seq("name"))))))
        if (isUserProperty) {
          payload = payload + ("userProperties" -> JObj(row.toSeq.collect {
            case (k, v) if !Reserved.contains(k) && v != null && v != "" =>
              k -> (Json.obj("value" -> jrow(v)): JVal)
          }))
          // reference renders a dict (not a list) here — replicated exactly
          payload = payload + ("events" -> Json.obj(
            "name" -> JStr("user_property_addition_event"), "params" -> Json.obj()))
        }
        val url = new StringBuilder(s"https://www.google-analytics.com/mp/collect?api_secret=$apiSecret")
        firebaseAppId.foreach { id =>
          url.append(s"&firebase_app_id=$id")
          require(appInstanceId.isDefined,
            "GA4 MP needs an app_instance_id parameter when used for an App Stream.")
          payload = payload + ("app_instance_id" -> jrow(appInstanceId.get))
        }
        measurementId.foreach { id =>
          url.append(s"&measurement_id=$id")
          require(clientId.isDefined,
            "GA4 MP needs a client_id parameter when used for a Web Stream.")
          payload = payload + ("client_id" -> jrow(clientId.get))
        }
        row.get("user_id").filter(v => v != null && v != "").foreach(v =>
          payload = payload + ("user_id" -> jrow(v)))
        row.get("timestamp_micros").filter(v => v != null && v != "").foreach(v =>
          payload = payload + ("timestamp_micros" -> JLong(str(v).toDouble.toLong)))
        RenderedRequest("ga4_mp_collect", url.toString, payload.render, Seq(idx))
      }
    }
  }

  /** GA 360 user list + data import
    * (`google_analytics_user_list_uploader.py:28-174`): ensure remarketing
    * audience, then CSV rows `user_id_custom_dim,buyer_custom_dim`.
    */
  object GaUserList extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val m = meta(e)
      require(m.length >= 6, s"Missing destination information. Found ${m.length}")
      require(Seq(0, 1, 2, 4, 5).forall(i => m(i).nonEmpty),
        s"Missing destination information. Received $m")
      val Seq(webPropertyId, viewId, dataImportName, userIdListName, userIdDim, buyerDim) =
        m.take(6)
      val customDimField = m.lift(6).filter(_.nonEmpty)
      val ensure = if (userIdListName.nonEmpty) Seq(RenderedRequest("ensure_remarketing_audience",
        s"analytics://management/remarketingAudience?account=${e.account.googleAnalyticsAccountId}&webProperty=$webPropertyId",
        Json.obj(
          "name" -> JStr(userIdListName),
          "linkedViews" -> JArr(Seq(JStr(viewId))),
          "linkedAdAccounts" -> JArr(Seq(Json.obj(
            "type" -> JStr(if (e.account.mccTrix) "MCC_LINKS" else "ADWORDS_LINKS"),
            "linkedAccountId" -> JStr(e.account.googleAdsAccountId)))),
          "audienceType" -> JStr("SIMPLE"),
          "audienceDefinition" -> Json.obj(
            "includeConditions" -> Json.obj(
              "kind" -> JStr("analytics#includeConditions"),
              "isSmartList" -> JBool(false),
              "segment" -> JStr(s"users::condition::$buyerDim==buyer"),
              "membershipDurationDays" -> JLong(365L)))).render, Seq.empty))
      else Seq.empty
      val csv = (s"$userIdDim,$buyerDim" +:
        rows.map(r => s"${str(r("user_id"))},${customDimField.map(f => str(r(f))).getOrElse("buyer")}"))
        .mkString("\n")
      ensure :+ RenderedRequest("upload_data",
        s"analytics://management/uploads?account=${e.account.googleAnalyticsAccountId}&webProperty=$webPropertyId&dataImport=$dataImportName",
        csv, rows.indices)
    }
  }

  /** GA data import eraser (`google_analytics_data_import_eraser.py:26-125`):
    * delete ALL uploaded files of the custom data source before re-upload.
    */
  object GaDataImportEraser extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val m = meta(e)
      require(m.length >= 2 && m.head.nonEmpty && m(1).nonEmpty,
        s"Missing destination information. Received $m")
      Seq(RenderedRequest("delete_all_upload_data",
        s"analytics://management/uploads/deleteUploadData?account=${e.account.googleAnalyticsAccountId}&webProperty=${m.head}&dataImport=${m(1)}",
        Json.obj("customDataImportUids" -> JStr("*")).render, rows.indices))
    }
  }

  /** GA data import (`google_analytics_data_import_uploader.py:29-154`):
    * CSV with `ga:`-prefixed headers from the first row's keys.
    */
  object GaDataImport extends PayloadRenderer {
    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val m = meta(e)
      require(m.length >= 2 && m.head.nonEmpty && m(1).nonEmpty,
        s"Missing destination information. Received $m")
      // an EMPTY batch renders no upload (there is no header row to build)
      // — the iteration-1 erase the empty-source path exists for is a
      // SEPARATE request rendered by the composite branch renderer, which
      // must not be lost to a rows.head crash here
      if (rows.isEmpty) Seq.empty
      else {
        val header = rows.head.keys.map("ga:" + _).mkString(",")
        val body = rows.map(_.values.map(v => if (v == null) "" else str(v)).mkString(",")).mkString("\n")
        Seq(RenderedRequest("upload_data",
          s"analytics://management/uploads?account=${e.account.googleAnalyticsAccountId}&webProperty=${m.head}&dataImport=${m(1)}",
          s"$header\n$body", rows.indices))
      }
    }
  }

  // ---------------------------------------------------------------- DV360

  /** DV360 customer match (`display_video/customer_match/abstract_uploader
    * .py:34-222` + variants): create the audience with the full contact
    * list on the creating batch; later batches edit members — the
    * edit-skip-on-creating-batch semantics map to iteration 1 vs later.
    */
  final case class DvCustomerMatch(variant: String) extends PayloadRenderer {

    private def consents(m: Seq[String]): Seq[(String, JVal)] =
      if (variant == "contact_info" && m.length >= 7 && m(5) != null && m(6) != null)
        Seq("consent" -> Json.obj(
          "adUserData" -> JStr(m(5)), "adPersonalization" -> JStr(m(6))))
      else Seq.empty

    private def rowKeys: Seq[String] = variant match {
      case "contact_info" => Seq("hashedEmails", "hashedPhoneNumbers", "hashedFirstName",
        "hashedLastName", "countryCode", "zipCodes")
      case "mobile" => Seq("mobileDeviceIds")
    }

    /** list-or-scalar normalization (`mobile_uploader.py:53-72`). */
    private def deviceIds(rows: Seq[Map[String, Any]]): Seq[JVal] =
      rows.flatMap(_.get("mobileDeviceIds")).flatMap {
        case s: Seq[_] => s.map(jrow)
        case v         => Seq(jrow(v))
      }

    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val m = meta(e)
      require(m.head.nonEmpty, s"Missing destination information. Received $m")
      require(m.length > 1 && m(1).nonEmpty, s"Missing list_name information. Received $m")
      val advertiserId = m.head
      val listName = m(1)
      val filtered = rows.map(row => rowKeys.flatMap(k => row.get(k).map(k -> _)).toMap)
      val url = s"displayvideo://advertisers/$advertiserId/firstAndThirdPartyAudiences"
      if (it == 1L) {
        val body = variant match {
          case "contact_info" => Json.obj(
            "displayName" -> JStr(listName),
            "firstAndThirdPartyAudienceType" -> JStr("FIRST_AND_THIRD_PARTY_AUDIENCE_TYPE_FIRST_PARTY"),
            "audienceType" -> JStr("CUSTOMER_MATCH_CONTACT_INFO"),
            "membershipDurationDays" -> JLong(10000L),
            "description" -> JStr("List created automatically by Megalista"),
            "contactInfoList" -> (Json.obj(
              "contactInfos" -> JArr(filtered.map(r => JObj(r.toSeq.map { case (k, v) => k -> jrow(v) })))) ++
              consents(m)))
          case "mobile" =>
            val appId = m.lift(3).filter(_.nonEmpty).getOrElse(e.account.appId)
            Json.obj(
              "displayName" -> JStr(listName),
              "firstAndThirdPartyAudienceType" -> JStr("FIRST_AND_THIRD_PARTY_AUDIENCE_TYPE_FIRST_PARTY"),
              "audienceType" -> JStr("CUSTOMER_MATCH_DEVICE_ID"),
              "membershipDurationDays" -> JLong(10000L),
              "description" -> JStr("List created automatically by Megalista"),
              "appId" -> JStr(appId),
              "mobileDeviceIdList" -> Json.obj("mobileDeviceIds" -> JArr(deviceIds(filtered))))
        }
        Seq(RenderedRequest("create_audience", s"$url.create", body.render, rows.indices))
      } else {
        val body = variant match {
          case "contact_info" => Json.obj(
            "advertiserId" -> JStr(advertiserId),
            "addedContactInfoList" -> (Json.obj(
              "contactInfos" -> JArr(filtered.map(r => JObj(r.toSeq.map { case (k, v) => k -> jrow(v) })))) ++
              consents(m)))
          case "mobile" => Json.obj(
            "advertiserId" -> JStr(advertiserId),
            "addedMobileDeviceIdList" -> Json.obj(
              "mobileDeviceIds" -> JArr(deviceIds(filtered))))
        }
        // the descriptor names the audience (advertiser id + display name);
        // the transport resolves the server-assigned audience id for the
        // REST path (GoogleRest.AudienceResolver)
        Seq(RenderedRequest("edit_customer_match_members",
          s"$url/$listName.editCustomerMatchMembers", body.render, rows.indices))
      }
    }
  }

  // ------------------------------------------------------------ AppsFlyer

  /** AppsFlyer S2S (`third_party/uploaders/appsflyer/appsflyer_s2s_uploader_
    * async.py:29-143`): per-row POST to inappevent/{app_id}; rate limiting
    * (500 events/s) is enforced by the sink driver per branch spec.
    */
  object AppsFlyerS2S extends PayloadRenderer {
    private val binds = Seq(
      "device_ids_idfa" -> "idfa",
      "device_ids_advertising_id" -> "advertising_id",
      "device_ids_oaid" -> "oaid",
      "device_ids_amazon_aid" -> "amazon_aid",
      "device_ids_imei" -> "imei",
      "customer_user_id" -> "customer_user_id",
      "ip" -> "ip",
      "event_eventValue" -> "eventValue",
      "event_eventCurrency" -> "eventCurrency",
      "event_eventTime" -> "eventTime")

    override def render(e: Execution, rows: Seq[Map[String, Any]], it: Long): Seq[RenderedRequest] = {
      val appId = requireMeta0(e)
      rows.zipWithIndex.map { case (row, idx) =>
        var payload = Json.obj(
          "appsflyer_id" -> jrow(row("appsflyer_id")),
          "eventName" -> jrow(row("event_eventName")),
          "eventValue" -> JStr(""),
          "af_events_api" -> JStr("true"))
        binds.foreach { case (rowKey, name) =>
          if (present(row, rowKey)) payload = payload + (name -> jrow(row(rowKey)))
        }
        // eventTime re-rendered as "%Y-%m-%d %H:%M:%S.%f" (:59-60)
        if (present(row, "event_eventTime")) {
          val dt = TimeUtils.parse(str(row("event_eventTime")))
          val base = java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss").format(dt)
          payload = payload + ("eventTime" -> JStr(base + ".%06d".format(dt.getNano / 1000)))
        }
        RenderedRequest("appsflyer_s2s_event",
          s"https://api2.appsflyer.com/inappevent/$appId", payload.render, Seq(idx))
      }
    }
  }
}
