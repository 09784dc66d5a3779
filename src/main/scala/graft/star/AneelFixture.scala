package graft.star

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Deterministic ANEEL-shaped CSV fixture for the oracle-graded end-to-end
  * star query (`star_etl_e2e`): the reference program IS this pipeline
  * (`/root/reference/src/FullETLGenerator.java:39-55`), so S1 (CSV scan:
  * ISO-8859-1, `;`, header, trim), S2/O1 (the two-phase build) get a
  * DuckDB-checked row alongside their ScalaTest e2e coverage.
  *
  * The rows exercise every coercion edge on purpose: duplicate dim keys,
  * repeated CodCEG with a different name (first-wins), empty
  * IdcGeracaoQualificada (N/A default), malformed/short/invalid-calendar
  * dates (0 sentinel), BR numbers with thousands dots, ",5" leading-comma
  * and "1e2" exponent forms (Double.parseDouble grammar), a
  * whitespace-padded field (trim), an empty SigUFPrincipal (null-safe FK
  * resolution), and ISO-8859-1 accents.
  *
  * Written under /tmp (never the read-only testdata dir); content is a
  * compile-time constant so every invocation produces byte-identical
  * input for both engines.
  */
object AneelFixture {
  /** Per-JVM-unique dir: two concurrent harnesses (a driver Verify next
    * to an sbt test run) must not race on the fixture file — same UUID
    * treatment as the graded queries' /tmp outputs. The oracle SQL
    * interpolates [[pathUtf8]] at dump time from the same JVM, so the
    * DuckDB side always reads the path this run wrote.
    */
  private val dir =
    "/tmp/graft_star_e2e_" + java.util.UUID.randomUUID().toString.take(8)

  val path = s"$dir/in.csv"

  /** UTF-8 transcoding of the SAME logical content, for the DuckDB oracle
    * (its read_csv grew an `encoding` option only after 1.0). Reading the
    * latin-1 bytes through Spark and the UTF-8 bytes through DuckDB and
    * hash-comparing the results is a STRONGER encoding check than sharing
    * bytes: a misdecoded accent on either side breaks the match.
    */
  val pathUtf8 = s"$dir/in_utf8.csv"

  private val header = StarSchemaJob.SourceColumns.mkString(";")

  private val rows = Seq(
    // dup dim keys; CodCEG repeated with DIFFERENT NomEmpreendimento
    "UHE;Hídrica;Potencial hidráulico;Operação;Concessão;S;MG;Três Marias;CEG001;Usina Alpha;Privado;2019-03-15T00:00:00;1.234,56;1.200,00;800,25",
    "UHE;Hídrica;Potencial hidráulico;Operação;Concessão;S;MG;Três Marias;CEG001;Usina Zeta;Privado;2019-06-20T00:00:00;500,00;450,10;300,00",
    // empty Idc -> N/A; malformed date -> 0; garbage number -> 0; ",5" -> 0.5
    "EOL;Eólica;Cinética do vento;Construção;Autorização;;BA;Caetité;CEG002;Parque Beta;Público;bad-date;abc;,5;2.000,00",
    // short date -> 0 key; exponent form -> 100.0
    "UTE;Fóssil;Gás natural;Operação;Registro;N;SP;Cubatão;CEG003;Term Gama;Privado;2020;10,5;0,0;1e2",
    // empty SigUFPrincipal -> NULL dim key, must still resolve (no -1)
    "UTE;Fóssil;Gás natural;Operação;Registro;N;;Cubatão;CEG004;Term Delta;Privado;2020-01-02T12:00:00;99,99;88,88;77,77",
    // padded field -> trimmed; Feb 30 passes the regex but is no date -> 0
    "PCH; Hídrica ;Potencial hidráulico;Operação;Concessão;S;RS;Não-Me-Toque;CEG005;Usina Épsilon;Privado;2021-02-30T00:00:00;1,23;2,34;3,45")

  /** Idempotently (re)write both encodings; returns the ISO-8859-1 path. */
  def ensure(): String = synchronized {
    val content = (header +: rows).mkString("\n")
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.ISO_8859_1))
    Files.write(Paths.get(pathUtf8), content.getBytes(StandardCharsets.UTF_8))
    path
  }
}
