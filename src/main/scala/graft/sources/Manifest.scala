package graft.sources

/** The on-disk line format of [[SnapshotTable]]'s manifests: the one
  * module that encodes or decodes it. A manifest is UTF-8 text, one
  * entry per '\n'-terminated line:
  * {{{
  *   #<key>=<value>              header (sorted by key)
  *   <path>                      data file, relative to the table root
  *   ~<path>                     deletion-vector (DV) sidecar under _dv/
  *   %<col>|<min>|<max>|<path>   per-file min/max stats of one column
  * }}}
  * Stats values are decimal longs, or `s:` + the URL-encoded string for
  * string columns (so '|', newlines and a numeric-looking string never
  * reach the line). The path is the last field and the parse is limit-4,
  * so a '|' in a partition value cannot corrupt it; column names are
  * refused if they carry a delimiter ([[requireStatsColumn]]).
  *
  * A DELTA manifest carries `#base=<v-1>` and lists only the changes
  * against version v-1's state: `+<entry>` / `-<entry>` for each of the
  * three body kinds (data, `~` DV, `%` stats). A parquet checkpoint
  * holds one body entry per row ([[entries]]); a WAP branch
  * manifest is a full manifest of data files only.
  *
  * Format 1 (no `#format` header) ordered stats `col|path|min|max` and
  * wrote DV addresses URI-escaped: its stats are reordered on decode,
  * and [[requireReadable]] refuses its DVs on every read path.
  */
private[sources] object Manifest {

  private val FormatKey = "format"
  private val CurrentFormat = 2
  private val BaseKey = "base"

  /** The body lists of one snapshot, in manifest order. */
  final case class Lists(files: Seq[String], dvs: Seq[String],
      stats: Seq[String])

  val NoLists: Lists = Lists(Seq.empty, Seq.empty, Seq.empty)

  sealed trait Body {
    /** The snapshot lists this body describes on top of `prev`, the
      * previous version's lists (a full body ignores them). */
    def applyTo(prev: Lists): Lists
  }

  final case class Full(lists: Lists) extends Body {
    def applyTo(prev: Lists): Lists = lists
  }

  /** Changes against version `base`: removals by set, additions
    * appended after the carried entries in manifest order. */
  final case class Delta(base: Long, removed: Lists, added: Lists)
      extends Body {
    def applyTo(prev: Lists): Lists = {
      def step(p: Seq[String], r: Seq[String], a: Seq[String]) = {
        val rs = r.toSet
        p.filterNot(rs.contains) ++ a
      }
      Lists(step(prev.files, removed.files, added.files),
        step(prev.dvs, removed.dvs, added.dvs),
        step(prev.stats, removed.stats, added.stats))
    }
  }

  /** One manifest: its headers (`base` lives in the [[Delta]]) and body. */
  final case class Decoded(meta: Map[String, String], body: Body)

  /** `body` under `meta`, stamped with the format this revision writes. */
  def current(meta: Map[String, String], body: Body): Decoded =
    Decoded(meta + (FormatKey -> CurrentFormat.toString), body)

  /** `now` as a delta against version `base`'s `prev` lists, when every
    * list is reachable as `prev.filterNot(removed) ++ added` — the shape
    * every commit verb builds; None for anything else (a reorder), which
    * must publish a full manifest. */
  def delta(base: Long, prev: Lists, now: Lists): Option[Delta] = {
    def diff(p: Seq[String], n: Seq[String]): Option[(Seq[String], Seq[String])] = {
      val pSet = p.toSet; val nSet = n.toSet
      val removed = p.filterNot(nSet.contains)
      val added = n.filterNot(pSet.contains)
      val rs = removed.toSet
      Option.when(p.filterNot(rs.contains) ++ added == n)((removed, added))
    }
    for {
      (rf, af) <- diff(prev.files, now.files)
      (rd, ad) <- diff(prev.dvs, now.dvs)
      (rs, as) <- diff(prev.stats, now.stats)
    } yield Delta(base, Lists(rf, rd, rs), Lists(af, ad, as))
  }

  /** Refuse a header the line format cannot carry back: a key holding
    * '=' splits differently when read, and a '\n' or '\r' anywhere
    * starts a new line, so a cold reader would see another value. */
  def requireHeader(key: String, value: String): Unit = {
    require(!key.exists(c => c == '=' || c == '\n' || c == '\r'),
      s"manifest header key '$key' cannot contain '=', '\\n' or '\\r'")
    require(!value.exists(c => c == '\n' || c == '\r'),
      s"manifest header '$key' cannot have a value containing '\\n' or '\\r'")
  }

  def requireHeaders(meta: Map[String, String]): Unit =
    meta.foreach { case (k, v) => requireHeader(k, v) }

  /** The manifest text of `m`; every header is validated first. */
  def encode(m: Decoded): String = {
    requireHeaders(m.meta)
    val (meta, body) = m.body match {
      case Full(l) => (m.meta, entries(l))
      case Delta(base, r, a) =>
        (m.meta + (BaseKey -> base.toString),
          r.files.map("-" + _) ++ a.files.map("+" + _) ++
            r.dvs.map("-~" + _) ++ a.dvs.map("+~" + _) ++
            r.stats.map("-%" + _) ++ a.stats.map("+%" + _))
    }
    val header = meta.toSeq.sorted.map { case (k, v) => s"#$k=$v" }
    (header ++ body).mkString("", "\n", "\n")
  }

  /** Parse manifest text. Full or delta is decided by the `#base`
    * header, not by line prefixes: a full manifest's data path may
    * itself start with '+' or '-'. */
  def decode(text: String): Decoded = {
    val (headers, body) =
      text.split('\n').toSeq.filter(_.nonEmpty).partition(_.startsWith("#"))
    val meta = headers.flatMap { l =>
      l.substring(1).split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
    def lists(es: Seq[String]): Lists = {
      val l = fromEntries(es)
      if (formatOf(meta) >= 2) l
      else l.copy(stats = l.stats.map { s =>
        val Array(c, f, mn, mx) = s.split("\\|", 4)
        s"$c|$mn|$mx|$f"
      })
    }
    def signed(sign: Char) =
      lists(body.filter(_.charAt(0) == sign).map(_.substring(1)))
    Decoded(meta - BaseKey, meta.get(BaseKey) match {
      case None => Full(lists(body))
      case Some(b) => Delta(b.toLong, signed('-'), signed('+'))
    })
  }

  private def formatOf(meta: Map[String, String]): Int =
    meta.get(FormatKey).flatMap(_.toIntOption).getOrElse(1)

  /** The body entries of `l` in manifest order: the lines of a full
    * manifest's body, and the rows of a checkpoint. */
  def entries(l: Lists): Seq[String] =
    l.files ++ l.dvs.map("~" + _) ++ l.stats.map("%" + _)

  def fromEntries(es: Seq[String]): Lists = {
    val files = Seq.newBuilder[String]
    val dvs = Seq.newBuilder[String]
    val stats = Seq.newBuilder[String]
    es.foreach { e =>
      if (e.startsWith("~")) dvs += e.substring(1)
      else if (e.startsWith("%")) stats += e.substring(1)
      else files += e
    }
    Lists(files.result(), dvs.result(), stats.result())
  }

  /** Fail loudly on a format-1 snapshot with deletion vectors: their
    * URI-escaped addresses no longer match the decoded scan addresses,
    * which would silently resurrect deleted rows in escaped partitions. */
  def requireReadable(dir: String, meta: Map[String, String],
      dvs: Seq[String]): Unit =
    if (dvs.nonEmpty && formatOf(meta) < 2)
      throw new IllegalStateException(
        s"$dir: a pre-format-2 manifest carries deletion vectors whose " +
          "row addresses were written URI-escaped; this revision reads " +
          "addresses decoded, so the DVs would silently stop applying " +
          "in escaped partitions. Rewrite the table (read the snapshot " +
          "with the revision that wrote it, write() it fresh) before " +
          "reading it here.")

  // ---- stats entries: `col|min|max|file` ----

  private val StrStatMark = "s:"

  /** Refuse a stats column name carrying the field delimiter '|' or a
    * line break. */
  def requireStatsColumn(c: String): Unit =
    require(!c.exists(ch => ch == '|' || ch == '\n' || ch == '\r'),
      s"stats column name '$c' cannot contain the stats-line delimiter " +
        "'|' or a line break")

  def longStat(col: String, file: String, mn: Long, mx: Long): String =
    s"$col|$mn|$mx|$file"

  def stringStat(col: String, file: String, mn: String, mx: String): String = {
    def enc(v: String) = StrStatMark + java.net.URLEncoder.encode(v, "UTF-8")
    s"$col|${enc(mn)}|${enc(mx)}|$file"
  }

  /** (column, file) of a stats entry. */
  def statKey(stat: String): (String, String) = {
    val Array(c, _, _, f) = stat.split("\\|", 4)
    (c, f)
  }

  val longValue: String => Option[Long] = _.toLongOption

  val stringValue: String => Option[String] = v =>
    Option.when(v.startsWith(StrStatMark))(
      java.net.URLDecoder.decode(v.stripPrefix(StrStatMark), "UTF-8"))

  /** Per-file (min, max) of `column` among `stats`, for the entries whose
    * values `value` decodes (a numeric view skips string stats and the
    * reverse, so such a file reads as stat-less). */
  def statRanges[T](stats: Seq[String], column: String)(
      value: String => Option[T]): Map[String, (T, T)] =
    stats.iterator.flatMap { s =>
      val Array(c, mn, mx, f) = s.split("\\|", 4)
      if (c != column) None
      else for (a <- value(mn); b <- value(mx)) yield f -> (a, b)
    }.toMap
}
