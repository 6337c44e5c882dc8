package graft.app

/** CLI message localization — the reference's i18n layer (reference:
  * src/llm_logparser/core/i18n.py:11-130) re-expressed for this CLI's
  * own message set. Strictly a log/stderr-message concern: the data
  * path and the machine-readable stdout JSON are locale-independent.
  *
  * Resolution contract (i18n.py:63-91):
  *   1. explicit `--locale` argument
  *   2. `LLP_LOCALE` environment variable
  *   3. default "en"
  * with `_` → `-` normalization, region fallback ("en-US" → "en") and
  * final fallback to "en" for unknown locales.
  *
  * Lookup contract (i18n.py:94-119): requested locale → fallback
  * locale → the key itself (debuggable, never throws); `{param}`
  * placeholders substituted, and a template whose parameters don't
  * match is returned unformatted rather than failing the CLI.
  */
object I18n {

  val DefaultLocale = "en"
  val FallbackLocale = "en"

  private val messages: Map[String, Map[String, String]] = Map(
    "en" -> Map(
      "cli.usage" -> "usage: graft.app.Main parse|export|chain ...",
      "cli.unknown_mode" -> "unknown mode: {mode}",
      "cli.opt.required" -> "--{name} required",
      "cli.opt.invalid" -> "invalid --{name}: {value}",
      "cli.error.path" -> "[LP-IO-404] path not found: {detail}",
      "cli.error.permission" -> "[LP-IO-403] permission: {detail}",
      "cli.error.unexpected" -> "[LP-UNEXPECTED] {detail}",
      "cli.parse.input_missing" -> "[LP-IO-404] input not found: {path}",
      "cli.parse.bad_format" ->
        "unknown --input-format: {format} (expected json|text)",
      "cli.export.root_missing" ->
        "[LP-IO-404] parsed root missing: {path}",
      "cli.parse.done" ->
        "parsed {threads} threads ({messages} messages)",
      "cli.export.done" -> "exported {parts} markdown part(s)"),
    "ja" -> Map(
      "cli.usage" -> "使い方: graft.app.Main parse|export|chain ...",
      "cli.unknown_mode" -> "不明なモード: {mode}",
      "cli.opt.required" -> "--{name} は必須です",
      "cli.opt.invalid" -> "--{name} の値が不正です: {value}",
      "cli.error.path" -> "[LP-IO-404] パスが見つかりません: {detail}",
      "cli.error.permission" -> "[LP-IO-403] アクセス権限エラー: {detail}",
      "cli.error.unexpected" -> "[LP-UNEXPECTED] 予期しないエラー: {detail}",
      "cli.parse.input_missing" ->
        "[LP-IO-404] 入力が見つかりません: {path}",
      "cli.parse.bad_format" ->
        "不明な --input-format: {format}（json|text を指定）",
      "cli.export.root_missing" ->
        "[LP-IO-404] parsed ルートがありません: {path}",
      "cli.parse.done" ->
        "{threads} スレッド（{messages} メッセージ）をパースしました",
      "cli.export.done" -> "{parts} 個の markdown パートを出力しました"))

  private def normalize(value: String): String =
    Option(value).filter(_.nonEmpty)
      .map(_.replace("_", "-")).getOrElse(DefaultLocale)

  /** CLI arg > LLP_LOCALE env > default; region-tag fallback. `env` is
    * injectable for tests (the JVM can't set real env vars). */
  def resolveLocale(
      cliLocale: Option[String] = None,
      env: Map[String, String] = sys.env): String = {
    val base = cliLocale.filter(_.nonEmpty).map(normalize)
      .orElse(env.get("LLP_LOCALE").filter(_.nonEmpty).map(normalize))
      .getOrElse(DefaultLocale)
    if (messages.contains(base)) base
    else {
      val lang = base.split("-")(0)
      if (messages.contains(lang)) lang else FallbackLocale
    }
  }

  /** Translate `key` with `{param}` substitution; never throws. */
  def t(key: String, locale: String, params: (String, Any)*): String = {
    val template = messages.getOrElse(locale,
        messages(FallbackLocale)).get(key)
      .orElse(messages(FallbackLocale).get(key))
      .getOrElse(key)
    val unresolved = params.foldLeft(template) { case (s, (k, v)) =>
      s.replace(s"{$k}", String.valueOf(v))
    }
    // format-error tolerance (i18n.py:108-113): a template still
    // containing placeholders the caller did not supply is returned
    // as-is rather than failing the CLI
    unresolved
  }

  @volatile private var current: String = DefaultLocale

  def setLocale(cliLocale: Option[String] = None): String = {
    current = resolveLocale(cliLocale)
    current
  }

  /** `_()` in the reference: translate in the process-wide locale. */
  def msg(key: String, params: (String, Any)*): String =
    t(key, current, params: _*)
}
