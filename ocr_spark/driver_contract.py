"""Driver-contract query registry: one entry per implemented operator.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB oracle SQL string run over the same parquet tables.  The
driver cross-checks row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- counts are cast to ``bigint`` (DuckDB's count/len natural type);
- doubles are produced by *identical ordered folds* (IEEE-deterministic)
  and rounded, or pass through exact decimal sums — never compared raw
  across different summation orders;
- all regex/hash primitives are the portable forms documented in
  :mod:`ocr_spark.textstats`.

Input synthesis for the extraction operators is a **shared, regex-free SQL
fragment** (chr/concat/case only — valid verbatim in both dialects) so both
engines provably see identical inputs; the *operator* itself then runs as
native Catalyst (``ocr_spark.native``) on the Spark side and as hand-written
ANSI SQL on the DuckDB side.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark import native
from ocr_spark import textstats as ts
from ocr_spark.constants import (
    BIRTHDATE_REGEX,
    CURP_STATE_CODES,
    ELECTOR_STATE_CODES,
    NAME_STOPWORDS,
    POSTAL_CODE_REGEX,
    REF_YEAR,
    SEX_REGEX,
    STREET_NUMBER_REGEX,
    VALIDITY_FALLBACK_REGEX,
)
from ocr_spark.dedup import (
    DEFAULT_BUCKET_CAP,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash16,
    simhash_pairs,
)
from ocr_spark.similarity import (
    brute_force_topk,
    embed_hash,
    hyperplanes,
    ivf_centroids,
    ivf_search,
    ivf_train_kmeans,
    lsh_ann_pairs,
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _register(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    for name in names:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(
            name
        )


# ---------------------------------------------------------------------------
# Shared input-synthesis SQL (dialect-neutral: no regex, no lpad, no casts
# that differ — chr/concat/floor/case only).
# ---------------------------------------------------------------------------

def _two(e: str) -> str:
    """Two-digit zero-padded string of a 0..99 integer expression."""
    return (
        f"concat(chr(48 + cast(floor(({e})/10) as int)),"
        f" chr(48 + cast(({e}) % 10 as int)))"
    )


def _letter(e: str) -> str:
    return f"chr(65 + cast(({e}) % 26 as int))"


_CURP_STATE_PICK = (
    "case cast(doc_id % 6 as int) when 0 then 'QR' when 1 then 'DF' "
    "when 2 then 'JC' when 3 then 'NL' when 4 then 'MC' else 'ZZ' end"
)

CARDS_SQL = f"""
SELECT doc_id,
       case when doc_id % 10 = 9 then substr(curp_full, 1, 10)
            else curp_full end AS curp,
       case cast(doc_id % 4 as int)
            when 0 then concat({_two('doc_id % 33')}, ' ABCD ',
                               {_two('19 + doc_id % 2')},
                               {_two('doc_id % 100')}, ' ',
                               {_two('10 + doc_id % 90')},
                               {_two('doc_id % 100')}, ' X')
            when 1 then concat({_two('1 + doc_id % 32')}, 'ABCDEF',
                               {_two('19 + doc_id % 2')},
                               {_two('doc_id % 100')}, 'XY',
                               {_two('10 + doc_id % 90')},
                               {_two('doc_id % 100')})
            when 2 then 'SHORTKEY'
            else concat('ABCDEF', {_two('19 + doc_id % 2')},
                        {_two('doc_id % 100')}, {_two('1 + doc_id % 32')},
                        'XY', {_two('doc_id % 100')}, 'H0')
       end AS ekey
FROM (
  SELECT doc_id,
         concat({_letter('doc_id')}, {_letter('doc_id * 7')},
                {_letter('doc_id * 3')}, {_letter('doc_id * 5')},
                {_two('(doc_id * 37) % 100')},
                {_two('1 + doc_id % 12')},
                {_two('1 + (doc_id * 3) % 28')},
                case cast(doc_id % 3 as int) when 0 then 'H'
                     when 1 then 'M' else 'X' end,
                {_CURP_STATE_PICK},
                {_letter('doc_id * 11')}, {_letter('doc_id * 13')},
                {_letter('doc_id * 17')},
                {_two('doc_id % 100')}) AS curp_full
  FROM documents
) c
"""

# coalesce is LOAD-BEARING for dialect neutrality (same reasoning as
# _PASSAGE_CORPUS_SQL below): Spark's concat NULL-propagates while
# DuckDB's skips NULL arguments, so a NULL-text doc would synthesize
# DIFFERENT line lists on the two engines without it.
_LINES_SQL = (
    "array(concat(' ', substr(coalesce(text, ''), 1, 20), '  X'), '', "
    "'   ', substr(coalesce(text, ''), 21, 30), 'A  B')"
)

_CLASSIFY_LINES_SQL = """
case cast(doc_id % 5 as int)
  when 0 then array('INSTITUTO FEDERAL ELECTORAL',
                    'REGISTRO FEDERAL DE ELECTORES', substr(text, 1, 10))
  when 1 then array('INSTITUTO NACIONAL ELECTORAL', 'CREDENCIAL PARA VOTAR',
                    'CLAVE DE ELECTOR XYZ')
  when 2 then array('INSTITUTO NACIONAL ELECTORAL', 'CREDENCIAL PARA VOTAR')
  when 3 then array('VOTAR IFE 2024')
  else array(substr(text, 1, 30), 'hello there')
end
"""

_EXTRACTOR_LINES_SQL = f"""
array(
  'FECHA 45/13/2030',
  case when doc_id % 7 = 0 then 'X 99/99/9999'
       else concat('NACIMIENTO ', {_two('1 + (doc_id * 3) % 28')}, '/',
                   {_two('1 + doc_id % 12')}, '/19',
                   {_two('(doc_id * 37) % 100')}) end,
  case when doc_id % 3 = 0 then '  1234  ' else 'A123' end,
  case cast(doc_id % 3 as int) when 0 then 'SEXO H'
       when 1 then 'SEXO M' else 'SEXO X' end,
  case when doc_id % 2 = 0
       then concat('C LOS MOLINOS ', {_two('10 + doc_id % 90')})
       else 'AV JUAREZ 10 INT. 2' end,
  concat('COL CENTRO 0', {_two('10 + doc_id % 90')},
         {_two('doc_id % 100')}),
  case cast(doc_id % 4 as int)
       when 0 then 'VIG 2020-2030'
       when 1 then 'VIG 2030-2020'
       when 2 then 'VIG 1800-1900'
       else 'nothing here' end
)
"""

_NAMES_SQL = """
case cast(doc_id % 5 as int)
  when 0 then 'CASTILLO OLIVERA RICARDO ORLANDO'
  when 1 then 'JUAN 123 PEREZ C1'
  when 2 then 'DOMICILIO MARIA DE LA CRUZ'
  when 3 then 'A B1 CD EF'
  else 'JOSÉ Ma. GARCÍA LÓPEZ'
end
"""

_COMPLETION_SQL = """
SELECT doc_id,
  case cast(doc_id % 3 as int) when 0 then '' when 1 then 'H' else 'M'
       end AS sexo_ex,
  case when doc_id % 2 = 0 then 'X' else '' end AS curp_sexo,
  case when doc_id % 4 < 2 then '2019' else '2019 05' end AS anio_ex,
  case cast(doc_id % 3 as int) when 0 then '' when 1 then 'QRO'
       else 'QUINTANA ROO' end AS estado_ex,
  case when doc_id % 5 < 3 then 'JALISCO' else '' end AS curp_estado,
  'COLIMA' AS key_estado
FROM documents
"""

_VIG_SQL = """
case cast(doc_id % 4 as int)
  when 0 then '2020-2030'
  when 1 then '2020 - 2030'
  when 2 then '2020  -   2030'
  else ''
end
"""

# Near-dup corpus: documents plus whitespace-doubled exact-dup copies and
# word-dropped near-dup copies (regex-free so it is dialect-neutral).
_DUP_CORPUS_SQL = """
SELECT doc_id, text, lang FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, replace(text, ' ', '  ') AS text, lang
FROM documents
"""


def _case_map(col: str, mapping: dict[str, str], guard: str) -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN '{v.replace(chr(39), chr(39) * 2)}'"
        for k, v in mapping.items()
    )
    return (
        f"CASE WHEN {guard} THEN '' ELSE "
        f"coalesce(CASE {col} {whens} END, '') END"
    )


_SW_LIT = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in ts.STOPWORDS.items()
}

# DuckDB fragments shared by several oracles -------------------------------

_DUCK_TOKENS = (
    "list_filter(string_split_regex(trim(coalesce({t}, '')), '[ \t\n\x0b\f\r]+'),"
    " x -> x <> '')"
)
_DUCK_NORM = "lower(trim(regexp_replace({t}, '[ \t\n\x0b\f\r]+', ' ', 'g')))"
_DUCK_HASH = "(('0x' || substr(md5({x}), 1, 15))::bigint)"
_DUCK_SHINGLES = (
    "list_distinct(list_transform("
    "  generate_series(1, greatest(len({tk}) - 2, 0)),"
    "  i -> concat({tk}[i], ' ', {tk}[i+1], ' ', {tk}[i+2])))"
)
# hashed shingle sets (the form all pairwise work runs on — see dedup.py)
_DUCK_SHINGLE_HASHES = (
    "list_distinct(list_transform(" + _DUCK_SHINGLES + ","
    " x -> ('0x' || substr(md5(x), 1, 15))::bigint))"
)
_DUCK_DOT = (
    "list_reduce(list_transform(generate_series(1, len(({a}))),"
    " i -> ((({a})[i])::double) * ((({b})[i])::double)), (x, y) -> x + y)"
)


def _duck_minhash_sig(sh: str, k: int = 8) -> list[str]:
    """k affine permutations over the HASHED shingle set — the arithmetic
    twin of dedup.minhash_signature's portable mode (same (a_j, b_j)
    literals, same prime, same empty-set sentinels)."""
    from ocr_spark.dedup import (
        MINHASH_PRIME,
        _driver_hash60,
        minhash_coeffs,
    )

    out = []
    for j, (a, b) in enumerate(minhash_coeffs(k)):
        sentinel = (a * (_driver_hash60(f"∅{j}") & 0xFFFFFFFF) + b) \
            % MINHASH_PRIME
        out.append(
            f"coalesce(list_min(list_transform({sh}, "
            f"h -> ({a}::bigint * (h & 4294967295) + {b}::bigint) "
            f"% {MINHASH_PRIME}::bigint)), {sentinel}::bigint)"
        )
    return out


def _ducked(sql: str) -> str:
    """Rewrite the shared dialect-neutral fragments for DuckDB: Spark's
    ``array(...)`` constructor is ``list_value(...)`` there (the only
    constructor difference the shared fragments use)."""
    return sql.replace("array(", "list_value(")


# ---------------------------------------------------------------------------
# The registry: name -> (spark_fn, oracle_sql | None)
# ---------------------------------------------------------------------------

Entry = tuple[Callable[[SparkSession, str], DataFrame], str | None]


def _cards_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["documents"])
    return spark.sql(CARDS_SQL)


def _docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["documents"])
    # _spread: the sf tables are single-row-group files (one-partition
    # scans); widen before the per-row text work — see _spread's docstring
    return _spread(spark.table("documents"))


def q_normalize_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs_df(spark, sf_dir).select(
        "doc_id", F.expr(_LINES_SQL).alias("lines")
    )
    norm = native.normalize_lines(F.col("lines"))
    return df.select(
        "doc_id",
        F.array_join(norm, " | ").alias("norm_joined"),
        F.size(norm).cast("bigint").alias("n_lines"),
    )


SQL_NORMALIZE_LINES = f"""
WITH inp AS (SELECT doc_id, {_LINES_SQL} AS lines FROM documents),
n AS (SELECT doc_id,
        list_filter(list_transform(lines,
          x -> trim(regexp_replace(x, '[ \t\n\x0b\f\r]+', ' ', 'g'))), x -> x <> '') AS nl
      FROM inp)
SELECT doc_id, coalesce(array_to_string(nl, ' | '), '') AS norm_joined,
       len(nl)::bigint AS n_lines
FROM n
"""
# ^ coalesce: DuckDB's array_to_string of an EMPTY list is NULL where
# Spark's array_join is '' — unreachable on this synthesis (nl always
# carries the 'A  B' literal) but load-bearing if it ever changes.


# input-synthesis fragment shared by the letters-only member of
# q_text_cleaners and its oracle
# coalesce: see _LINES_SQL (Spark concat NULL-propagates, DuckDB skips)
_LETTERS_INPUT_SQL = (
    "concat('A1 ', substr(coalesce(text, ''), 1, 40), ' ñé2#')"
)

SQL_LETTERS_ONLY = f"""
SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(trim(upper({_LETTERS_INPUT_SQL})),
                   '[^A-ZÁÉÍÓÚÜÑ \\t\\n\\x0b\\f\\r]', ' ', 'g'),
    '[ \t\n\x0b\f\r]+', ' ', 'g')) AS letters
FROM documents
"""


def q_classify_credential(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs_df(spark, sf_dir).select(
        "doc_id", F.expr(_CLASSIFY_LINES_SQL).alias("lines")
    )
    blob = native.doc_blob(F.col("lines"))
    return df.select(
        "doc_id",
        native.credential_type(blob).alias("tipo_credencial"),
        native.is_ine(blob).alias("es_ine"),
    )


SQL_CLASSIFY = f"""
WITH inp AS (SELECT doc_id, {_CLASSIFY_LINES_SQL} AS lines FROM documents),
b AS (SELECT doc_id,
        trim(coalesce(array_to_string(list_transform(
          list_filter(lines, t -> t IS NOT NULL AND t <> ''),
          t -> trim(upper(t))), ' '), '')) AS blob
      FROM inp)
SELECT doc_id,
  CASE WHEN (blob LIKE '%INSTITUTO FEDERAL ELECTORAL%'
             OR blob LIKE '%REGISTRO FEDERAL DE ELECTORES%'
             OR regexp_matches(blob, '\\bIFE\\b')
             OR (blob LIKE '%FEDERAL%' AND blob LIKE '%ELECTORAL%'
                 AND blob LIKE '%REGISTRO%')) THEN 'C'
       WHEN ((blob LIKE '%INSTITUTO%' AND blob LIKE '%ELECTORAL%')
             AND (blob LIKE '%NACIONAL%' OR regexp_matches(blob, '\\bINE\\b'))
             AND blob LIKE '%CREDENCIAL%' AND blob LIKE '%VOTAR%'
             AND (regexp_matches(blob, 'CLAVE[ \t\n\x0b\f\r]*DE[ \t\n\x0b\f\r]*ELECTOR')
                  OR (blob LIKE '%CLAVE%' AND blob LIKE '%ELECTOR%')
                  OR regexp_matches(blob, 'CLAVE[ \t\n\x0b\f\r]*DE[ \t\n\x0b\f\r]*ELEC'))) THEN 'GH'
       ELSE 'D' END AS tipo_credencial,
  (blob LIKE '%INSTITUTO NACIONAL ELECTORAL%') AS es_ine
FROM b
"""


SQL_CURP_PARSE = f"""
WITH cards AS ({CARDS_SQL})
SELECT doc_id, curp,
  -- upper(): the Spark twins (native.curp_sex/curp_state) uppercase
  -- before matching; without it a lowercase OCR'd CURP would parse
  -- sexo='X'/estado='' here while Spark parses the real values.  The
  -- fixture CURPs are uppercase, but the twins must express the same
  -- semantics (the sibling _sql_curp_state_join already does this).
  CASE WHEN length(curp) < 16 THEN ''
       WHEN upper(substr(curp, 11, 1)) = 'H' THEN 'H'
       WHEN upper(substr(curp, 11, 1)) = 'M' THEN 'M'
       ELSE 'X' END AS sexo,
  CASE WHEN length(curp) < 16 THEN ''
       ELSE concat(substr(curp, 9, 2), '/', substr(curp, 7, 2), '/',
                   CASE WHEN cast(substr(curp, 5, 2) as int) > {REF_YEAR % 100}
                        THEN '19' ELSE '20' END,
                   substr(curp, 5, 2)) END AS fecha_nacimiento,
  {_case_map("upper(substr(curp, 12, 2))", CURP_STATE_CODES,
             "length(curp) < 16")}
    AS estado
FROM cards
"""


SQL_ELECTOR_PARSE = f"""
WITH cards AS ({CARDS_SQL})
SELECT doc_id, ekey,
  {_case_map("substr(ekey, 1, 2)", ELECTOR_STATE_CODES, "length(ekey) < 13")}
    AS estado_clave,
  CASE WHEN length(ekey) < 13 THEN ''
       ELSE coalesce(regexp_extract(ekey, '\\b(\\d{{4}})\\b', 1), '')
       END AS seccion_clave,
  CASE WHEN length(ekey) < 13 THEN ''
       ELSE coalesce(list_filter(
              regexp_extract_all(ekey, '\\b(19\\d{{2}}|20[0-2]\\d)\\b', 1),
              y -> cast(y as int) between 1900 and {REF_YEAR + 1})[1], '')
       END AS anio_registro_clave
FROM cards
"""


def q_id_parsers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused identifier-parser panel — D1 CURP demographics with the
    century pivot (main.py:531-598) and D2 elector-key parsing
    (main.py:604-655), both substring + map-literal lookups over the SAME
    synthesized cards, in one scan, fused to fit the 50-query window —
    each parser keeps its own oracle-verified columns (oracle = the two
    parsers' oracles joined on doc_id)."""
    df = _cards_df(spark, sf_dir)
    c, k = F.col("curp"), F.col("ekey")
    return df.select(
        "doc_id",
        c.alias("curp"),
        native.curp_sex(c).alias("sexo"),
        native.curp_birthdate(c).alias("fecha_nacimiento"),
        native.curp_state(c).alias("estado"),
        k.alias("ekey"),
        native.elector_state(k).alias("estado_clave"),
        native.elector_section(k).alias("seccion_clave"),
        native.elector_registry_year(k).alias("anio_registro_clave"),
    )


SQL_ID_PARSERS = f"""
WITH o1 AS ({SQL_CURP_PARSE}),
o2 AS ({SQL_ELECTOR_PARSE})
SELECT o1.doc_id, o1.curp, o1.sexo, o1.fecha_nacimiento, o1.estado,
       o2.ekey, o2.estado_clave, o2.seccion_clave, o2.anio_registro_clave
FROM o1 JOIN o2 USING (doc_id)
"""


def q_field_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["documents"])
    df = spark.sql(_COMPLETION_SQL)
    return df.select(
        "doc_id",
        native.complete_if_blank(
            F.col("sexo_ex"), F.col("curp_sexo")
        ).alias("sexo"),
        native.registry_year_suffix(F.col("anio_ex")).alias("anio_registro"),
        native.complete_state(
            F.col("estado_ex"), F.col("curp_estado"), F.col("key_estado")
        ).alias("estado"),
    )


SQL_COMPLETIONS = f"""
WITH inp AS ({_COMPLETION_SQL})
SELECT doc_id,
  CASE WHEN (sexo_ex IS NULL OR sexo_ex = '') AND curp_sexo <> ''
       THEN curp_sexo ELSE coalesce(sexo_ex, '') END AS sexo,
  CASE WHEN anio_ex <> '' AND anio_ex NOT LIKE '% %'
       THEN concat(anio_ex, ' 00') ELSE anio_ex END AS anio_registro,
  CASE WHEN (estado_ex IS NULL OR length(trim(estado_ex)) < 5)
            AND curp_estado <> '' THEN curp_estado
       WHEN (estado_ex IS NULL OR length(trim(estado_ex)) < 5)
            AND key_estado <> '' THEN key_estado
       ELSE coalesce(estado_ex, '') END AS estado
FROM inp
"""


def q_regex_extractors(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs_df(spark, sf_dir).select(
        "doc_id", F.expr(_EXTRACTOR_LINES_SQL).alias("lines")
    )
    lines = F.col("lines")
    street = F.element_at(lines, 5)
    return df.select(
        "doc_id",
        native.first_match_date(lines, BIRTHDATE_REGEX).alias("fecha"),
        native.find_section(lines).alias("seccion"),
        native.first_match(lines, SEX_REGEX).alias("sexo"),
        native.first_match(lines, POSTAL_CODE_REGEX).alias("codigo_postal"),
        F.regexp_extract(street, STREET_NUMBER_REGEX, 1).alias("numero"),
        native.format_year_pair(
            native.first_match_year_pair(lines, VALIDITY_FALLBACK_REGEX)
        ).alias("vigencia"),
    )


SQL_REGEX_EXTRACTORS = f"""
WITH inp AS (SELECT doc_id, {_EXTRACTOR_LINES_SQL} AS lines FROM documents),
m AS (
  SELECT doc_id, lines,
    list_filter(list_transform(lines,
        x -> coalesce(regexp_extract(x, '\\b(\\d{{2}}/\\d{{2}}/\\d{{4}})\\b', 1), '')),
      v -> v <> ''
           AND try_cast(string_split(v, '/')[1] as int) between 1 and 31
           AND try_cast(string_split(v, '/')[2] as int) between 1 and 12
           AND try_cast(string_split(v, '/')[3] as int) between 1900 and {REF_YEAR}
    ) AS dates,
    list_filter(list_transform(lines, x -> trim(x)),
      x -> regexp_matches(x, '^[0-9]{{4}}$')) AS sections,
    list_filter(list_transform(lines,
        x -> coalesce(regexp_extract(x, '\\b(H|M|X)\\b', 1), '')),
      v -> v <> '') AS sexes,
    list_filter(list_transform(lines,
        x -> coalesce(regexp_extract(x, '\\b(\\d{{5}})\\b', 1), '')),
      v -> v <> '') AS cps,
    list_filter(list_transform(lines,
        x -> coalesce(regexp_extract(x, '(\\d{{4}}[ \t\n\x0b\f\r]*[-]?[ \t\n\x0b\f\r]*?\\d{{4}})', 1), '')),
      v -> v <> ''
           AND len(regexp_extract_all(v, '(\\d{{4}})', 1)) = 2
           AND try_cast(regexp_extract_all(v, '(\\d{{4}})', 1)[1] as int)
               between 1900 and 2099
           AND try_cast(regexp_extract_all(v, '(\\d{{4}})', 1)[2] as int)
               between 1900 and 2099
           AND try_cast(regexp_extract_all(v, '(\\d{{4}})', 1)[2] as int)
             > try_cast(regexp_extract_all(v, '(\\d{{4}})', 1)[1] as int)
    ) AS vigs
  FROM inp)
SELECT doc_id,
  coalesce(dates[1], '') AS fecha,
  coalesce(sections[1], '') AS seccion,
  coalesce(sexes[1], '') AS sexo,
  coalesce(cps[1], '') AS codigo_postal,
  coalesce(regexp_extract(lines[5],
    '\\b(\\d{{1,5}}[A-Z]?(?:[ \t\n\x0b\f\r]*INT\\.?[ \t\n\x0b\f\r]*\\d+)?)\\b', 1), '') AS numero,
  CASE WHEN coalesce(vigs[1], '') = '' THEN ''
       ELSE trim(regexp_replace(replace(vigs[1], '-', ' - '),
                 '[ \t\n\x0b\f\r]+', ' ', 'g')) END AS vigencia
FROM m
"""


_SW_NAME_LIT = "[" + ", ".join(f"'{w}'" for w in NAME_STOPWORDS) + "]"

SQL_NAME_CLEAN = f"""
WITH inp AS (SELECT doc_id, {_NAMES_SQL} AS name FROM documents),
t AS (SELECT doc_id, name,
        list_filter(string_split_regex(coalesce(name, ''), '[ \t\n\x0b\f\r]+'),
                    x -> x <> '') AS toks
      FROM inp),
k AS (SELECT doc_id, name, toks,
        list_transform(
          list_filter(toks, tok ->
            length(regexp_replace(upper(tok), '[^\\wÁÉÍÓÚÜÑ]', '', 'g')) > 1
            AND NOT list_contains({_SW_NAME_LIT},
                  regexp_replace(upper(tok), '[^\\wÁÉÍÓÚÜÑ]', '', 'g'))
            AND NOT regexp_matches(
                  regexp_replace(upper(tok), '[^\\wÁÉÍÓÚÜÑ]', '', 'g'),
                  '^\\d+$')
            AND NOT regexp_matches(
                  regexp_replace(upper(tok), '[^\\wÁÉÍÓÚÜÑ]', '', 'g'),
                  '^\\d+[A-Z]*$')),
          tok -> upper(tok)) AS kept_upper
      FROM t)
SELECT doc_id, name,
  coalesce(array_to_string(
    list_filter(toks, tok -> list_contains(kept_upper, upper(tok))),
    ' '), '') AS cleaned
FROM k
"""
# ^ coalesce: a name whose tokens ALL fail the keep filter (digits,
# blacklist) yields the empty list — '' on the Spark side
# (array_join), NULL here without the guard.


# colonia/cp input synthesis shared by the strip-cp member of
# q_text_cleaners and its oracle
_COLONIA_SQL = (
    "case when doc_id % 3 = 0 "
    "then concat('FRACC LA HERRADURA ', '0', "
    + _two("10 + doc_id % 90")
    + ", "
    + _two("doc_id % 100")
    + ") else 'COL CENTRO SIN CP' end"
)
_CP_SQL = (
    "concat('0', " + _two("10 + doc_id % 90") + ", "
    + _two("doc_id % 100") + ")"
)

SQL_STRIP_CP = f"""
WITH inp AS (
  SELECT doc_id,
    {_COLONIA_SQL} AS colonia,
    {_CP_SQL} AS cp
  FROM documents)
SELECT doc_id,
  CASE WHEN colonia IS NULL OR trim(colonia) = '' OR cp IS NULL
            OR trim(cp) = ''
       THEN coalesce(trim(colonia), '')
       ELSE trim(regexp_replace(
              -- regexp_escape mirrors the Spark twin's Pattern.quote:
              -- a raw cp re-created the metachar hazard the twin fixed
              -- ('0.600' also stripping '0X600'; '06(00' aborting the
              -- query as an invalid pattern)
              regexp_replace(colonia,
                             concat('\\b', regexp_escape(cp), '\\b'),
                             '', 'g'),
              '[ \t\n\x0b\f\r]+', ' ', 'g')) END AS colonia_limpia
FROM inp
"""


SQL_VIG_FORMAT = f"""
WITH inp AS (SELECT doc_id, {_VIG_SQL} AS v FROM documents)
SELECT doc_id,
  CASE WHEN v = '' THEN ''
       ELSE trim(regexp_replace(replace(v, '-', ' - '), '[ \t\n\x0b\f\r]+', ' ', 'g'))
       END AS vigencia
FROM inp
"""


def q_text_cleaners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused per-document text-cleaner panel — P2 letters-only
    (main.py:1376-1383), P3 name-token blacklist with the original-casing
    quirk (main.py:661-722), P4 CP-token removal (main.py:1530-1545) and
    the vigencia year-pair formatter (main.py:918/930/945/1089) computed
    in ONE scan of the documents table, so every entry fits the
    driver's 50-query correctness window — each operator keeps its own
    oracle-verified columns (the oracle is the four cleaners' oracle
    blocks joined on doc_id), and the fused shape is also the
    production one: per-doc scalar cleaners belong in a single
    projection, not four scans."""
    df = _docs_df(spark, sf_dir).select(
        "doc_id",
        F.expr(_LETTERS_INPUT_SQL).alias("s"),
        F.expr(_NAMES_SQL).alias("name"),
        F.expr(_COLONIA_SQL).alias("colonia"),
        F.expr(_CP_SQL).alias("cp"),
        F.expr(_VIG_SQL).alias("v"),
    )
    return df.select(
        "doc_id",
        native.letters_only(F.col("s")).alias("letters"),
        F.col("name"),
        native.clean_name(F.col("name")).alias("cleaned"),
        native.strip_cp_from_colonia(F.col("colonia"), F.col("cp")).alias(
            "colonia_limpia"
        ),
        native.format_year_pair(F.col("v")).alias("vigencia"),
    )


SQL_TEXT_CLEANERS = f"""
WITH o1 AS ({SQL_LETTERS_ONLY}),
o2 AS ({SQL_NAME_CLEAN}),
o3 AS ({SQL_STRIP_CP}),
o4 AS ({SQL_VIG_FORMAT})
SELECT o1.doc_id, o1.letters, o2.name, o2.cleaned, o3.colonia_limpia,
       o4.vigencia
FROM o1 JOIN o2 USING (doc_id) JOIN o3 USING (doc_id) JOIN o4 USING (doc_id)
"""


# ------------------------------------------------------------ dedup family

def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["documents"])
    return spark.sql(_DUP_CORPUS_SQL)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_dup_corpus(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
keyed AS (SELECT doc_id AS id,
                 md5({_DUCK_NORM.format(t='text')}) AS digest
          FROM corpus WHERE text IS NOT NULL)
SELECT digest, min(id) AS canonical_id, count(*)::bigint AS n_docs
FROM keyed GROUP BY digest HAVING count(*) > 1
"""

_NEAR_CORPUS_SQL = """
SELECT doc_id, text, lang FROM documents
"""


def _spread(df: DataFrame) -> DataFrame:
    """Widen a NARROW scan before expensive per-row work.

    A single-row-group parquet file scans as ONE partition no matter how
    many cores the session has (row groups are the split granularity), so
    every narrow stage downstream — shingling, hashing, winnowing — runs
    on one core while 31 idle: measured 11.7 s vs 0.8 s for the shingle
    stage at sf0.1.  Repartition ONLY when the scan is narrower than the
    session's parallelism; at production scale the scan has thousands of
    row groups, the condition is false, and no shuffle is added.

    The probe (``df.rdd.getNumPartitions()``) converts the plan to an RDD
    on the driver — no Spark job, but real planning work per query build.
    That is fine at bench/contract frequency (this helper's only
    callers); a production job should not probe at all — set
    ``spark.sql.files.maxPartitionBytes`` (and keep inputs multi-row-
    group) so the scan itself is parallel, and skip ``_spread``."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _emb_df(spark: SparkSession) -> DataFrame:
    """Embeddings table, widened (_spread): the sf files are single
    row groups, and the hyperplane/centroid dot folds are interpreted
    per-row CPU that must not run on one core."""
    return _spread(spark.table("embeddings"))


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ word-dropped copies (every 7th token removed)."""
    _register(spark, sf_dir, ["documents"])
    base = spark.table("documents").select("doc_id", "text", "lang")
    toks = ts.tokens(F.col("text"))
    dropped = F.array_join(
        F.filter(toks, lambda x, i: (i % 7) != 0), " "
    )
    mutated = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        dropped.alias("text"),
        "lang",
    )
    return _spread(base.unionByName(mutated))


_DUCK_NEAR_CORPUS = f"""
SELECT doc_id, text, lang FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
  coalesce(array_to_string(list_transform(
    list_filter(generate_series(1, len(tk)), i -> (i - 1) % 7 <> 0),
    i -> tk[i]), ' '), '') AS text,
  lang
FROM (SELECT doc_id, lang, {_DUCK_TOKENS.format(t='text')} AS tk
      FROM documents) x
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise n-gram Jaccard.  Blocking key = the document's
    single min-hash over its shingle set (1-permutation MinHash): block
    sizes stay bounded at any corpus size (coarse keys like language make
    the pair count quadratic — 17x wall at sf0.1), at the usual MinHash
    recall J per pair; the banded variant (dedup_minhash_lsh) is the
    high-recall path."""
    corpus = _near_corpus(spark, sf_dir)
    # bucket_col omitted: the operator's own min_shingle_bucket default
    # IS the documented blocking key — re-stating it here would re-create
    # the drift the single-sourced helper exists to prevent.
    return ngram_jaccard_pairs(corpus, threshold=0.3)


SQL_NGRAM_JACCARD = f"""
WITH corpus AS ({_DUCK_NEAR_CORPUS}),
s0 AS (SELECT doc_id AS id,
        {_DUCK_SHINGLE_HASHES.format(tk=_DUCK_TOKENS.format(t='text'))} AS sh
      FROM corpus),
s1 AS (SELECT id, sh, coalesce(list_min(sh), -1) AS bucket FROM s0),
s AS (SELECT id, sh, bucket,
        cast(floor((row_number() OVER (PARTITION BY bucket ORDER BY id) - 1)
                   / {DEFAULT_BUCKET_CAP}.0) AS int) AS sub_bucket
      FROM s1),
pairs AS (
  SELECT l.id AS id_a, r.id AS id_b, l.sh AS sh_a, r.sh AS sh_b
  FROM s l JOIN s r ON l.bucket = r.bucket
   AND l.sub_bucket = r.sub_bucket AND l.id < r.id)
SELECT id_a, id_b,
  CASE WHEN (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) <= 0
       THEN 0.0
       ELSE floor(len(list_intersect(sh_a, sh_b))::double /
             (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
             * 10000) / 10000
  END AS jaccard_sim
FROM pairs
WHERE CASE WHEN (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) <= 0
           THEN 0.0
           ELSE floor(len(list_intersect(sh_a, sh_b))::double /
                 (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
                 * 10000) / 10000
      END >= 0.3
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _near_corpus(spark, sf_dir)
    return minhash_lsh_pairs(corpus, verify_threshold=MINHASH_T)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.dedup import dedup_clusters

    return dedup_clusters(
        _near_corpus(spark, sf_dir), verify_threshold=MINHASH_T
    )


# One verify threshold shared by every minhash-backed contract query AND
# the oracle CTE builder — a Spark call site and its oracle can never
# drift apart on it.
MINHASH_T = 0.3

# Shared DuckDB fragments for language-ID and quality scoring — used by
# their own oracles and by the curation composite, so the formulas exist
# exactly once.
_DUCK_LANG_HITS = {
    lang: f"len(list_filter(tk, t -> list_contains({_SW_LIT[lang]}, "
          f"lower(t))))"
    for lang in ts.LANG_ORDER
}
_LANGID_CASE = """CASE WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
       WHEN h_es >= h_fr THEN 'es'
       ELSE 'fr' END"""
_QUALITY_FORMULA = """floor((0.4 * least(n_tokens / 64.0, 1.0)
      + 0.3 * least((CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE sw_hits::double / n_tokens END) * 4.0, 1.0)
      + 0.3 * greatest(0.0, 1.0 - punct_ratio * 2.0)) * 10000) / 10000"""


def _minhash_pairs_ctes(
    corpus_sql: str | None = None, threshold: float = MINHASH_T
) -> str:
    """CTE chain ending in ``mh_pairs(id_a, id_b, jaccard_sim)`` — shared
    by the minhash-pairs oracle, the cluster oracle, and the curation
    composite (which clusters the plain ``documents`` corpus)."""
    sig = _duck_minhash_sig("sh")
    bands = ", ".join(
        f"md5(concat(sig[{b * 2 + 1}], ':', sig[{b * 2 + 2}])) AS band{b}"
        for b in range(4)
    )
    # len(sh) > 0 mirrors band_table's empty-shingle exclusion (the
    # sentinel-signature quadratic bucket; output-identical — see
    # dedup.band_table)
    band_rows = " UNION ALL ".join(
        f"SELECT id, sh, {b} AS band_idx, band{b} AS band_hash FROM sigs"
        f" WHERE len(sh) > 0"
        for b in range(4)
    )
    jac = """CASE WHEN (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) <= 0
       THEN 0.0
       ELSE floor(len(list_intersect(sh_a, sh_b))::double /
             (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
             * 10000) / 10000
  END"""
    return f"""corpus AS ({corpus_sql or _DUCK_NEAR_CORPUS}),
s AS (SELECT doc_id AS id,
        {_DUCK_SHINGLE_HASHES.format(tk=_DUCK_TOKENS.format(t='text'))} AS sh
      FROM corpus),
sigs AS (SELECT id, sh, [{', '.join(sig)}] AS sig FROM s),
sigs2 AS (SELECT id, sh, {bands} FROM sigs),
banded AS ({band_rows.replace('FROM sigs', 'FROM sigs2')}),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
   AND l.id < r.id),
j AS (
  SELECT c.id_a, c.id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM cand c JOIN s a ON a.id = c.id_a JOIN s b ON b.id = c.id_b),
mh_pairs AS (
  SELECT id_a, id_b, {jac} AS jaccard_sim FROM j WHERE {jac} >= {threshold})"""


def _sql_minhash() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT id_a, id_b, jaccard_sim FROM mh_pairs
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup through the REAL store path: the
    committed cohort's sketches are written via tableio snapshot-append
    and read back from parquet (exactly what a prior run would have
    left), then the delta (every 5th doc — 1,000,000 ≡ 0 mod 5, so the
    delta holds both base docs and their mutated near-dups) is paired
    against itself and against the store.  Oracle = the full-corpus
    minhash pair set restricted to pairs touching the delta — the
    run-union equivalence that makes per-delta dedup sound."""
    from ocr_spark.dedup import incremental_minhash_pairs, minhash_sketches
    from ocr_spark.tableio import ParquetManifestIO

    corpus = _near_corpus(spark, sf_dir)
    delta = corpus.filter(F.col("doc_id") % 5 == 0)
    committed_docs = corpus.filter(F.col("doc_id") % 5 != 0)

    io = ParquetManifestIO(_stream_workdir("increm"))
    io.append(minhash_sketches(committed_docs), "sketches")
    committed = io.read(spark, "sketches")
    return incremental_minhash_pairs(
        minhash_sketches(delta), committed, verify_threshold=MINHASH_T
    )


def _sql_dedup_incremental() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT id_a, id_b, jaccard_sim FROM mh_pairs
WHERE id_a % 5 = 0 OR id_b % 5 = 0
"""


def q_dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental EXACT dedup through the same store path as
    the minhash twin: the committed cohort's (id, digest) rows go through
    tableio snapshot-append and are read back from parquet; the delta
    (every 5th doc of the dup corpus — both originals and their
    space-doubled copies land in each cohort) is classified against
    itself (min-id-wins) and against the store (first-run-wins)."""
    from ocr_spark.dedup import exact_digests, exact_duplicates_incremental
    from ocr_spark.tableio import ParquetManifestIO

    corpus = _dup_corpus(spark, sf_dir)
    delta = exact_digests(corpus.filter(F.col("doc_id") % 5 == 0))
    committed_docs = corpus.filter(F.col("doc_id") % 5 != 0)

    io = ParquetManifestIO(_stream_workdir("increm_exact"))
    io.append(exact_digests(committed_docs), "digests")
    committed = io.read(spark, "digests")
    return exact_duplicates_incremental(delta, committed)


def _sql_dedup_exact_incremental() -> str:
    return f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
keyed AS (SELECT doc_id AS id, md5({_DUCK_NORM.format(t='text')}) AS digest
          FROM corpus WHERE text IS NOT NULL),
delta AS (SELECT * FROM keyed WHERE id % 5 = 0),
committed AS (SELECT DISTINCT digest FROM keyed WHERE id % 5 <> 0),
canon AS (SELECT digest, min(id) AS new_canonical_id
          FROM delta GROUP BY digest)
SELECT d.id, d.digest,
  (d.digest IN (SELECT digest FROM committed)) AS dup_of_committed,
  CASE WHEN d.digest IN (SELECT digest FROM committed) THEN NULL
       ELSE c.new_canonical_id END AS new_canonical_id,
  (d.digest NOT IN (SELECT digest FROM committed)
   AND d.id = c.new_canonical_id) AS kept
FROM delta d JOIN canon c USING (digest)
"""


# Passage-dup corpus (dialect-neutral — runs in BOTH engines): every 3rd
# doc gets a copy of its first 120 characters plus a doc-unique tail, so
# original and copy share a multi-token PREFIX passage while neither is a
# whole-doc duplicate (the copy's final token is usually truncated
# mid-word, which also exercises the window-boundary semantics: grams
# touching the truncated token must NOT match).
_PASSAGE_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       concat(substr(text, 1, 120), ' zq', cast(doc_id AS string)) AS text
FROM documents
WHERE doc_id % 3 = 0 AND text IS NOT NULL
"""
# ^ the NULL-text guard is LOAD-BEARING for dialect neutrality: Spark's
# concat returns NULL when any argument is NULL, DuckDB's SKIPS null
# arguments (a NULL-text copy would be NULL in Spark but ' zqN' in
# DuckDB).  Current fixtures have no NULL text, but the corpus must not
# depend on that.


def _passage_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["documents"])
    return _spread(spark.sql(_PASSAGE_CORPUS_SQL))


_PASSAGE_K = 8  # min duplicated-passage length (tokens), shared with SQL


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-gram exact substring-duplication spans (see dedup.dup_passages):
    maximal cross-document duplicated token spans, gaps-and-islands
    merged, all offsets exact bigints — the whole table oracle-replays."""
    from ocr_spark.dedup import dup_passages

    return dup_passages(
        _passage_corpus(spark, sf_dir), k=_PASSAGE_K
    ).withColumnRenamed("id", "doc_id")


def q_strip_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage removal (see dedup.strip_dup_passages): covered
    tokens cut, survivors re-joined in order; every doc flows through."""
    from ocr_spark.dedup import strip_dup_passages

    return strip_dup_passages(
        _passage_corpus(spark, sf_dir), k=_PASSAGE_K
    ).withColumnRenamed("id", "doc_id")


def q_dup_passages_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental passage dedup through the store seam: the
    originals' gram doc-frequencies go through tableio snapshot-append
    and come back from parquet; the copies arrive as the delta.  Output:
    the DELTA docs' duplicated spans, which must equal the one-shot
    full-corpus spans restricted to those docs — exactly what the oracle
    replays."""
    from ocr_spark.dedup import (
        _gram_table,
        dup_passages_incremental,
        gram_doc_freqs,
    )
    from ocr_spark.tableio import ParquetManifestIO

    corpus = _passage_corpus(spark, sf_dir)
    committed_docs = corpus.filter(F.col("doc_id") < 1000000)
    delta_docs = corpus.filter(F.col("doc_id") >= 1000000)

    io = ParquetManifestIO(_stream_workdir("increm_passages"))
    io.append(
        gram_doc_freqs(
            _gram_table(committed_docs, _PASSAGE_K, "text", "doc_id")
        ),
        "gram_freqs",
    )
    committed = io.read(spark, "gram_freqs").groupBy("gram_h").agg(
        F.sum("n_docs").alias("n_docs")
    )
    return dup_passages_incremental(
        delta_docs, committed, k=_PASSAGE_K
    ).withColumnRenamed("id", "doc_id")


def _passage_marked_cte(k: int) -> str:
    """Shared oracle CTE chain ending in ``m(doc_id, pos)`` — the marked
    gram start positions (mirrors dedup._marked_windows)."""
    toks = _DUCK_TOKENS.format(t="text")
    gram_h = _DUCK_HASH.format(
        x=f"array_to_string(list_slice(tk, i, i + {k - 1}), ' ')"
    )
    return f"""corpus AS ({_PASSAGE_CORPUS_SQL}),
t AS (SELECT doc_id, {toks} AS tk FROM corpus),
g0 AS (SELECT doc_id, tk,
         CASE WHEN len(tk) >= {k} THEN generate_series(1, len(tk) - {k - 1})
              ELSE []::bigint[] END AS idxs
       FROM t),
g AS (SELECT doc_id,
        unnest(idxs) - 1 AS pos,
        unnest(list_transform(idxs, i -> {gram_h})) AS gram_h
      FROM g0),
f AS (SELECT gram_h
      FROM (SELECT gram_h, count(DISTINCT doc_id) AS df_docs
            FROM g GROUP BY gram_h)
      WHERE df_docs >= 2),
m AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram_h))"""


def _sql_dup_passages(k: int = _PASSAGE_K) -> str:
    return f"""
WITH {_passage_marked_cte(k)},
m2 AS (SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {k}
              THEN 1 ELSE 0 END AS brk
       FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
m3 AS (SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       FROM m2)
SELECT doc_id, min(pos)::bigint AS span_start,
  (max(pos) + {k})::bigint AS span_end,
  (max(pos) + {k} - min(pos))::bigint AS span_tokens,
  count(*)::bigint AS n_grams
FROM m3 GROUP BY doc_id, island
"""


def _sql_dup_passages_incremental(k: int = _PASSAGE_K) -> str:
    """One-shot full-corpus spans restricted to the delta (copies): with
    disjoint batches, delta+committed gram frequency == total frequency,
    so the incremental composition must reproduce this exactly."""
    return (
        _sql_dup_passages(k).rstrip()
        + "\nHAVING doc_id >= 1000000\n"
    )


def _sql_strip_dup_passages(k: int = _PASSAGE_K) -> str:
    return f"""
WITH {_passage_marked_cte(k)},
cov AS (SELECT DISTINCT doc_id, tp FROM
          (SELECT doc_id, unnest(generate_series(pos, pos + {k - 1})) AS tp
           FROM m)),
tok AS (SELECT doc_id, unnest(tk) AS tok,
          generate_subscripts(tk, 1) - 1 AS tp
        FROM t),
kept AS (SELECT tok.doc_id, tok.tok, tok.tp
         FROM tok ANTI JOIN cov USING (doc_id, tp))
SELECT t.doc_id,
  coalesce(string_agg(k.tok, ' ' ORDER BY k.tp), '') AS clean_text,
  len(t.tk)::bigint AS n_tokens_in,
  count(k.tok)::bigint AS n_tokens_kept
FROM t LEFT JOIN kept k USING (doc_id)
GROUP BY t.doc_id, len(t.tk)
"""


def _sql_dedup_clusters() -> str:
    """Connected components over the minhash pair edges as a recursive
    CTE: min reachable node id per node = the cluster label the Spark
    side's min-label propagation converges to."""
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
nodes AS (SELECT doc_id AS id FROM corpus),
edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM mh_pairs),
reach(id, lab) AS (
  SELECT id, id AS lab FROM nodes
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id, min(lab) AS cluster_id, (id = min(lab)) AS is_canonical
FROM reach GROUP BY id
"""


def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental CLUSTER maintenance: one-shot components
    over the committed cohort (originals + even-id near copies), then
    the odd-id copies arrive as a delta — incremental pairs against the
    committed sketches, incremental_components for delta labels + merge
    records, resolve_labels over the store.  The composed result must
    equal the one-shot closure over ALL documents, which is exactly what
    the oracle replays (same recursive CTE as dedup_clusters, full
    corpus).  The odd-copy delta interleaves ids BELOW committed copies,
    so rename records are actually exercised, not just appends."""
    from ocr_spark.dedup import (
        connected_components,
        incremental_components,
        incremental_minhash_pairs,
        minhash_sketches,
        resolve_labels,
    )

    corpus = _near_corpus(spark, sf_dir)
    is_delta = (F.col("doc_id") >= 1000000) & (F.col("doc_id") % 2 == 1)
    committed_docs = corpus.filter(~is_delta)
    delta_docs = corpus.filter(is_delta)

    # one committed sketch pass serves both the committed-stage pairs
    # and the incremental band join (persist = the store read, in job
    # form)
    sk_committed = minhash_sketches(committed_docs).persist()
    committed_pairs = incremental_minhash_pairs(
        sk_committed, None, verify_threshold=MINHASH_T
    )
    committed_labels = connected_components(
        committed_docs.select(F.col("doc_id").alias("id")),
        committed_pairs.select("id_a", "id_b"),
    )
    pairs = incremental_minhash_pairs(
        minhash_sketches(delta_docs),
        sk_committed,
        verify_threshold=MINHASH_T,
    )
    inc = incremental_components(
        delta_docs.select(F.col("doc_id").alias("id")),
        pairs.select("id_a", "id_b"),
        committed_labels,
    )
    resolved = resolve_labels(
        committed_labels,
        inc.filter("role = 'merge'").select("id", "cluster_id"),
    ).unionByName(inc.filter("role = 'delta'").select("id", "cluster_id"))
    return resolved.select(
        "id", "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def _simhash_pair_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ word-dropped near-dups (+1M) ∪ whitespace-doubled exact
    dups (+2M): the doubled copies tokenize identically (hamming 0), the
    dropped copies land near the originals — both distances exercised."""
    base = _near_corpus(spark, sf_dir)
    doubled = spark.table("documents").select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("replace(text, ' ', '  ')").alias("text"),
        "lang",
    )
    # explicit repartition, not _spread: the union of the (already wide)
    # base with the 1-partition doubled scan passes _spread's width test,
    # but the doubled branch's 5000 docs would still shingle in ONE task
    out = base.unionByName(doubled)
    return out.repartition(spark.sparkContext.defaultParallelism)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        _simhash_pair_corpus(spark, sf_dir), max_hamming=3, bits=60
    )


def q_dedup_simhash_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-run incremental SIMHASH dedup through the real store path
    (same protocol as ``dedup_incremental``): the committed cohort's
    (id, sig) sketches go through tableio snapshot-append and come back
    from parquet; the delta (every 5th doc of the simhash pair corpus)
    is block-joined against itself and the store.  Oracle = the
    full-corpus simhash pair set restricted to pairs touching the delta
    — the run-union equivalence, replayed in SQL."""
    from ocr_spark.dedup import incremental_simhash_pairs, simhash_sketches
    from ocr_spark.tableio import ParquetManifestIO

    corpus = _simhash_pair_corpus(spark, sf_dir)
    delta = corpus.filter(F.col("doc_id") % 5 == 0)
    committed_docs = corpus.filter(F.col("doc_id") % 5 != 0)

    io = ParquetManifestIO(_stream_workdir("increm_simhash"))
    io.append(simhash_sketches(committed_docs, bits=60), "simhash")
    committed = io.read(spark, "simhash")
    return incremental_simhash_pairs(
        simhash_sketches(delta, bits=60), committed,
        max_hamming=3, bits=60,
    )


def _sql_simhash_incremental() -> str:
    return (
        _sql_simhash_pairs().rstrip()
        + "\n  AND (id_a % 5 = 0 OR id_b % 5 = 0)\n"
    )


def _sql_simhash_pairs(max_hamming: int = 3, bits: int = 60) -> str:
    from ocr_spark.dedup import simhash_block_widths

    sh = _DUCK_SHINGLE_HASHES.format(tk=_DUCK_TOKENS.format(t="text"))
    votes = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h & {1 << b}) > 0)) "
        f"- len(hs) > 0 THEN {1 << b}::bigint ELSE 0 END)"
        for b in range(bits)
    )
    blocks = " UNION ALL ".join(
        f"SELECT id, sig, {i} AS block_idx, "
        f"((sig >> {shift}) & {(1 << width) - 1}) AS block_val FROM s"
        for i, (shift, width) in enumerate(
            simhash_block_widths(bits, max_hamming + 1)
        )
    )
    return f"""
WITH corpus AS ({_DUCK_NEAR_CORPUS}
UNION ALL
SELECT doc_id + 2000000 AS doc_id, replace(text, ' ', '  ') AS text, lang
FROM documents),
h AS (SELECT doc_id AS id, {sh} AS hs
      FROM corpus),
-- len(hs) > 0 mirrors simhash_sketches' feature-less exclusion (sig-0
-- hamming-0 false positives; see dedup.simhash_sketches)
s AS (SELECT id, ({votes})::bigint AS sig FROM h WHERE len(hs) > 0),
b AS ({blocks}),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
         l.sig AS sig_a, r.sig AS sig_b
  FROM b l JOIN b r
    ON l.block_idx = r.block_idx AND l.block_val = r.block_val
   AND l.id < r.id)
SELECT id_a, id_b, bit_count(xor(sig_a, sig_b))::bigint AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
"""


def _sql_simhash(corpus_sql: str | None = None) -> str:
    """16-bit token-set SimHash oracle CTE over ``corpus_sql`` (defaults
    to the near-dup corpus; the doc_stats panel passes plain documents)."""
    toks = _DUCK_TOKENS.format(t="text")
    votes = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h & {1 << b}) > 0)) "
        f"- len(hs) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
WITH corpus AS ({corpus_sql or _DUCK_NEAR_CORPUS}),
h AS (SELECT doc_id AS id,
        list_transform(list_distinct({toks}),
                       t -> ('0x' || substr(md5(t), 1, 15))::bigint) AS hs
      FROM corpus)
SELECT id, ({votes})::bigint AS simhash FROM h
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-mod mixture sampling (en 50% / es 25% / rest
    10%) — membership is a pure function of doc_id, replayed exactly by
    the oracle (df.sample would be partitioning-dependent)."""
    from ocr_spark.assembly import stratified_sample

    docs = _docs_df(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(
        docs, {"en": 0.5, "es": 0.25}, default_fraction=0.1
    )


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('sample/' || cast(doc_id AS varchar)), 1, 15))
        ::bigint % 1000000
      < CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 250000
                  ELSE 100000 END
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing into 512-token bins across 8
    hash shards (per-shard window cumsum — the parallelism unit), plus
    the shard-level EXPORT MANIFEST columns
    (:func:`ocr_spark.assembly.shard_manifest` — docs, tokens, and the
    order-independent content XOR per shard) joined back per doc, so
    the training-shard exporter's accounting arithmetic sits under the
    same hash gate."""
    from ocr_spark.assembly import pack_sequences, shard_manifest

    docs = _docs_df(spark, sf_dir)
    manifest = shard_manifest(docs, n_shards=8).select(
        "shard",
        F.col("n_docs").alias("shard_docs"),
        F.col("n_tokens").alias("shard_tokens"),
        F.col("content_xor").alias("shard_xor"),
    )
    return pack_sequences(docs, target_tokens=512, n_shards=8).join(
        F.broadcast(manifest), on="shard"
    )


SQL_PACK_SEQUENCES = f"""
WITH b AS (
  SELECT doc_id,
    (('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint % 8)
      ::int AS shard,
    len({_DUCK_TOKENS.format(t='text')})::bigint AS n_tokens,
    ('0x' || substr(md5(
        cast(doc_id AS varchar) || chr(31) || coalesce(text, '')
      ), 1, 15))::bigint AS h
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
      ::bigint AS cum_tokens
  FROM b),
m AS (
  SELECT shard, count(*)::bigint AS shard_docs,
    sum(n_tokens)::bigint AS shard_tokens,
    bit_xor(h)::bigint AS shard_xor
  FROM b GROUP BY shard)
SELECT c.doc_id, c.shard,
  floor((cum_tokens - c.n_tokens) / 512.0)::bigint AS bin,
  c.n_tokens, cum_tokens,
  m.shard_docs, m.shard_tokens, m.shard_xor
FROM c JOIN m USING (shard)
"""


# Token-budget mixture over the source column: named weights exercise the
# capped-rate branch (src0's allocation exceeds its volume), partial rates
# (src1-3), and the zero-weight default (every other source).  Single
# source of truth for the Spark call AND the oracle CASE literals.
MIX_WEIGHTS = {"src0": 5, "src1": 3, "src2": 1, "src3": 1}
MIX_BUDGET = 3000


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget domain mixing (see assembly.mixture_sample): exact
    bigint allocation/rate arithmetic, hash-threshold membership —
    the whole decision table is oracle-replayed."""
    from ocr_spark.assembly import mixture_sample

    docs = _docs_df(spark, sf_dir).select("doc_id", "source", "text")
    return mixture_sample(docs, MIX_WEIGHTS, MIX_BUDGET)


def _sql_mixture_sample() -> str:
    wsum = sum(MIX_WEIGHTS.values())
    whens = " ".join(
        f"WHEN '{d}' THEN {(MIX_BUDGET * w) // wsum}"
        for d, w in MIX_WEIGHTS.items()
    )
    ntok = f"len({_DUCK_TOKENS.format(t='text')})::bigint"
    return f"""
WITH b AS (
  SELECT doc_id, source AS domain, {ntok} AS n_tokens FROM documents),
t AS (SELECT domain, sum(n_tokens)::bigint AS domain_tokens
      FROM b GROUP BY domain),
r AS (SELECT domain, domain_tokens,
        (CASE domain {whens} ELSE 0 END)::bigint AS target_tokens
      FROM t),
r2 AS (SELECT domain, domain_tokens, target_tokens,
        (CASE WHEN domain_tokens <= 0 THEN 0
              ELSE least(1000000,
                         (target_tokens * 1000000) // domain_tokens)
         END)::bigint AS rate_ppm
       FROM r)
SELECT b.doc_id, b.domain, b.n_tokens, r2.domain_tokens,
  r2.target_tokens, r2.rate_ppm,
  coalesce(
    ((('0x' || substr(md5('mix/' || cast(b.doc_id AS varchar)), 1, 15))
        ::bigint % 1000000) < r2.rate_ppm), false) AS kept
FROM b JOIN r2 ON b.domain IS NOT DISTINCT FROM r2.domain
"""
# (IS NOT DISTINCT FROM mirrors the Spark side's null-safe domain join,
# and the coalesce its kept=false contract for NULL doc ids — identical
# results on this corpus, which has no NULL source or doc_id values, but
# the twins must express the same semantics)


# The driver corpus draws from a ~40-word vocabulary, which degenerates
# frequency-derived signals (every token near-ubiquitous → idf 0,
# surprisal constant).  Appending one doc-unique marker token gives each
# doc a df=1 term, so the oracle comparison exercises VARYING scores,
# not just the constant case.  concat_ws skips NULL text in both engines.
def _marked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_df(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"),
            F.concat(F.lit("m"), F.col("doc_id").cast("string")),
        ).alias("text"),
    )


_DUCK_MARKED = """
SELECT doc_id,
  concat_ws(' ', text, 'm' || cast(doc_id AS varchar)) AS text
FROM documents
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal quality score (see textstats.lm_score):
    bit-quantized log2 (exact integers both engines), one trunc4'd
    divide at the end."""
    return ts.lm_score(_marked_docs(spark, sf_dir))


def _sql_lm_score() -> str:
    toks = _DUCK_TOKENS.format(t="text")
    return f"""
WITH marked AS ({_DUCK_MARKED}),
tok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM marked),
freq AS (SELECT tok, count(*)::bigint AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c)::bigint AS total_c FROM freq),
sur AS (SELECT tok,
          (length(bin(total_c)) - length(bin(c)))::bigint AS surprisal
        FROM freq, tot),
sc AS (SELECT t.doc_id, count(*)::bigint AS n_tokens,
         sum(s.surprisal)::bigint AS sum_surprisal
       FROM tok t JOIN sur s USING (tok) GROUP BY t.doc_id)
SELECT d.doc_id,
  coalesce(sc.n_tokens, 0)::bigint AS n_tokens,
  coalesce(sc.sum_surprisal, 0)::bigint AS sum_surprisal,
  CASE WHEN coalesce(sc.n_tokens, 0) = 0 THEN 0.0
       ELSE floor(sc.sum_surprisal::double / sc.n_tokens::double
                  * 10000.0) / 10000.0
  END AS lm_score
FROM marked d LEFT JOIN sc USING (doc_id)
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·idf with bit-quantized
    idf — exact bigint scores, ties broken (score DESC, token ASC),
    plus ``bm25_ppm`` (``with_bm25=True``): the Okapi BM25 weight of the SAME selected rows — floored to exact ppm
    per term (see textstats.bm25_term_ppm) so the dl/avgdl length
    normalization sits under the hash gate too."""
    return ts.tfidf_topk(_marked_docs(spark, sf_dir), k=3, with_bm25=True)


def _duck_bm25_ppm(tf: str, idf: str, dl: str, avgdl: str) -> str:
    """DuckDB twin of textstats.bm25_term_ppm — the SAME expression tree
    with literals emitted via repr() from the SAME Python constants, so
    both engines parse identical doubles and every +|*|/ is IEEE-
    correctly-rounded on identical operands."""
    k1, b = ts.BM25_K1, ts.BM25_B
    return (
        f"floor(((({idf})::DOUBLE * (({tf})::DOUBLE * {k1 + 1.0!r})) / "
        f"(({tf})::DOUBLE + {k1!r} * ({1.0 - b!r} + {b!r} * "
        f"(({dl})::DOUBLE / {avgdl})))) * 1000000.0)::BIGINT"
    )


def _sql_tfidf_topk(k: int = 3) -> str:
    toks = _DUCK_TOKENS.format(t="text")
    bm25 = _duck_bm25_ppm(
        "r.tf", "(length(bin(n.n_docs)) - length(bin(r.df_docs)))",
        "dlt.dl", "(SELECT avgdl FROM avg)",
    )
    return f"""
WITH marked AS ({_DUCK_MARKED}),
tok AS (
  SELECT doc_id, unnest({toks}) AS token FROM marked),
tc AS (SELECT doc_id, token, count(*)::bigint AS tf
       FROM tok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*)::bigint AS df_docs
          FROM tc GROUP BY token),
n AS (SELECT count(*)::bigint AS n_docs FROM marked),
dlt AS (SELECT doc_id, sum(tf)::bigint AS dl FROM tc GROUP BY doc_id),
avg AS (SELECT (SELECT sum(dl) FROM dlt)::DOUBLE
             / (SELECT n_docs FROM n)::DOUBLE AS avgdl),
sc AS (SELECT tc.doc_id, tc.token, tc.tf, dfreq.df_docs,
         (tc.tf * (length(bin(n.n_docs)) - length(bin(dfreq.df_docs))))
           ::bigint AS score
       FROM tc JOIN dfreq USING (token), n),
r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rnk
      FROM sc)
SELECT r.doc_id, r.rnk::bigint AS rank, r.token, r.tf, r.df_docs, r.score,
       {bm25} AS bm25_ppm
FROM r JOIN dlt ON r.doc_id = dlt.doc_id, n
WHERE r.rnk <= {k}
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (assembly.score_buckets,
    sampled-thresholds SCALE path): tercile boundaries computed on the
    deterministic hash half-sample per source, every doc assigned by
    broadcast comparison — only the sample is ever sorted."""
    from ocr_spark.assembly import score_buckets

    scored = ts.lm_score(_marked_docs(spark, sf_dir))
    src = _docs_df(spark, sf_dir).select("doc_id", "source")
    out = score_buckets(
        scored.join(src, on="doc_id"), sample_denom=2
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("grp").alias("source"),
        F.col("score").alias("lm_score"),
        "bucket",
    )


def _sql_perplexity_buckets() -> str:
    toks = _DUCK_TOKENS.format(t="text")
    h = _DUCK_HASH.format(x="concat('sb/', cast(doc_id AS varchar))")
    return f"""
WITH marked AS ({_DUCK_MARKED}),
tok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM marked),
freq AS (SELECT tok, count(*)::bigint AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c)::bigint AS total_c FROM freq),
sur AS (SELECT tok,
          (length(bin(total_c)) - length(bin(c)))::bigint AS surprisal
        FROM freq, tot),
sc AS (SELECT t.doc_id, count(*)::bigint AS n_tokens,
         sum(s.surprisal)::bigint AS sum_surprisal
       FROM tok t JOIN sur s USING (tok) GROUP BY t.doc_id),
scored AS (
  SELECT m.doc_id, d.source,
    CASE WHEN coalesce(sc.n_tokens, 0) = 0 THEN 0.0
         ELSE floor(sc.sum_surprisal::double / sc.n_tokens::double
                    * 10000.0) / 10000.0
    END AS lm_score
  FROM marked m JOIN documents d USING (doc_id)
  LEFT JOIN sc USING (doc_id)),
samp AS (SELECT * FROM scored
         WHERE lm_score IS NOT NULL AND {h} % 2 = 0),
sb AS (SELECT source, doc_id, lm_score,
         ntile(3) OVER (PARTITION BY source
                        ORDER BY lm_score ASC, doc_id ASC) AS sb
       FROM samp),
bounds AS (SELECT source,
             max(CASE WHEN sb = 1 THEN lm_score END) AS t1,
             max(CASE WHEN sb = 2 THEN lm_score END) AS t2
           FROM sb GROUP BY source)
SELECT s.doc_id, s.source, s.lm_score,
  (CASE WHEN s.lm_score IS NULL THEN NULL
        WHEN b.t1 IS NULL OR b.t2 IS NULL THEN NULL
        WHEN s.lm_score <= b.t1 THEN 1
        WHEN s.lm_score <= b.t2 THEN 2
        ELSE 3 END)::bigint AS bucket
FROM scored s LEFT JOIN bounds b USING (source)
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.repetition_stats(_docs_df(spark, sf_dir))


def _sql_repetition_stats() -> str:
    toks2 = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(len(toks) - 1, 0)),"
        " i -> concat(toks[i], ' ', toks[i+1])))"
    )
    toks3 = _DUCK_SHINGLES.format(tk="toks")

    def dup_frac(n: int, distinct: str) -> str:
        return (
            f"CASE WHEN len(toks) - {n - 1} <= 0 THEN 0.0 ELSE "
            f"floor((1.0 - len({distinct})::double / "
            f"(len(toks) - {n - 1})::double) * 10000.0) / 10000.0 END"
        )

    return f"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKENS.format(t='text')} AS toks
            FROM documents),
grams AS (
  SELECT doc_id, len(toks)::bigint AS n_tokens,
    {dup_frac(2, toks2)} AS dup_2gram_frac,
    {dup_frac(3, toks3)} AS dup_3gram_frac
  FROM tk),
tc AS (
  SELECT doc_id,
    floor((max(c)::double / sum(c)::double) * 10000.0) / 10000.0
      AS top_token_frac
  FROM (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
        GROUP BY doc_id, tok)
  GROUP BY doc_id)
SELECT g.doc_id, g.n_tokens,
  coalesce(tc.top_token_frac, 0.0) AS top_token_frac,
  g.dup_2gram_frac, g.dup_3gram_frac,
  (g.n_tokens >= 50 AND
   (coalesce(tc.top_token_frac, 0.0) > 0.20 OR g.dup_3gram_frac > 0.30))
    AS repetitive
FROM grams g LEFT JOIN tc ON g.doc_id = tc.doc_id
"""


def q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup under the gate: every event is fed
    TWICE; the stream must emit each exactly once (first occurrence), so
    the drained result equals the batch DISTINCT of the events table."""
    from ocr_spark.streaming import drain_dedup_exact

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    doubled = ev.unionByName(ev)
    got = drain_dedup_exact(spark, doubled, _stream_workdir("dedup"))
    return got.select(
        "event_id", "user_id",
        F.col("ts").cast("double").alias("ts_epoch"),
        "event_type", "value",
    )


# PRECONDITION: whole-row DISTINCT is the oracle for a stream that
# dedups on event_id ALONE, so it is exact only while the events table
# never carries two rows sharing an event_id with different payloads
# (true of the driver fixture: event_id is a unique key).  If a future
# fixture breaks that, the stream's survivor is arrival-order dependent
# and NO deterministic SQL can replay it — regenerate the fixture with
# unique ids rather than weakening this oracle.
SQL_EVENTS_DEDUP_STREAM = """
SELECT DISTINCT event_id, user_id, epoch(ts) AS ts_epoch,
       event_type, value
FROM events
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram decontamination: the fixture eval set is every 17th
    document (so eval members must flag themselves, and overlap-by-shared-
    sentences shows up in non-members), min_overlap=2 exercises the
    threshold rather than any-hit.  n=3 explicitly (the module default is
    the decontamination-typical 8): the fixture corpus shares SENTENCES
    between docs, and trigram width is what makes sub-sentence overlap
    visible on ~50-token documents.

    The Bloom-filter scale path's approx columns ride in the same row (``n_bloom_grams``/``contaminated_bloom`` from
    :func:`ocr_spark.decontam.decontaminate_bloom` in ``mode='approx'``)
    so the bitmap build+probe arithmetic (:mod:`ocr_spark.membership`,
    63-bit portable words, double-hashed positions) is itself under the
    hash gate — the oracle replays it bit-for-bit, false positives
    included."""
    from ocr_spark.decontam import decontaminate, decontaminate_bloom

    docs = _docs_df(spark, sf_dir)
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    exact = decontaminate(docs, eval_set, n=3, min_overlap=2)
    approx = decontaminate_bloom(
        docs, eval_set, n=3, min_overlap=2,
        m_bits=_BLOOM_M_BITS, k=_BLOOM_K, mode="approx",
    ).select(
        "doc_id", "n_bloom_grams",
        F.col("contaminated").alias("contaminated_bloom"),
    )
    return exact.join(approx, on="doc_id")


# Bloom sizing for the contract fixture: ~1.4k distinct eval trigrams at
# m=16384/k=4 → fpp ≈ 0.7%; small enough that the approx columns mostly
# agree with exact while the FP arithmetic still gets exercised — and
# either way both engines replay the identical bitmap, so the hash gate
# is exact regardless of where the FPs land.
_BLOOM_M_BITS = 16384
_BLOOM_K = 4

# Kirsch-Mitzenmacher positions over the portable 60-bit gram hash —
# the arithmetic twin of membership.bloom_positions (the FULL hash as the
# base so filters past 2^31 bits stay addressable;
# h2 = ((g>>31) & (2^29-1)) | 1, pos_i = (g + i·h2) mod m); words are
# 63-bit (membership.WORD_BITS) because DuckDB overflows on << 63.
_DUCK_BLOOM_POS = (
    "(g + i * (((g >> 31) & 536870911) | 1))"
    f" % {_BLOOM_M_BITS}"
)

SQL_DECONTAMINATE = f"""
WITH eg AS (
  SELECT DISTINCT doc_id AS eval_id, unnest(
    {_DUCK_SHINGLE_HASHES.format(tk=_DUCK_TOKENS.format(t='text'))}) AS g
  FROM documents WHERE doc_id % 17 = 0),
dg AS (
  SELECT doc_id, unnest(
    {_DUCK_SHINGLE_HASHES.format(tk=_DUCK_TOKENS.format(t='text'))}) AS g
  FROM documents),
hits AS (
  SELECT dg.doc_id,
         count(DISTINCT dg.g)::bigint AS n_matched_grams,
         count(DISTINCT eg.eval_id)::bigint AS n_eval_hit
  FROM dg JOIN eg ON dg.g = eg.g
  GROUP BY dg.doc_id),
bm AS (
  SELECT pos // 63 AS word_idx,
         bit_or(1::BIGINT << (pos % 63)::INT) AS word
  FROM (SELECT {_DUCK_BLOOM_POS} AS pos
        FROM (SELECT DISTINCT g FROM eg),
             (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i))
  GROUP BY 1),
pp AS (
  SELECT doc_id, g, {_DUCK_BLOOM_POS} AS pos
  FROM (SELECT DISTINCT doc_id, g FROM dg),
       (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i)),
ok AS (
  SELECT doc_id, g,
         min(CASE WHEN bm.word IS NOT NULL
                   AND (bm.word & (1::BIGINT << (pp.pos % 63)::INT)) <> 0
                  THEN 1 ELSE 0 END) = 1 AS might
  FROM pp LEFT JOIN bm ON pp.pos // 63 = bm.word_idx
  GROUP BY doc_id, g),
bh AS (
  SELECT doc_id, count(DISTINCT g)::bigint AS n_bloom_grams
  FROM ok WHERE might GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(h.n_matched_grams, 0)::bigint AS n_matched_grams,
  coalesce(h.n_eval_hit, 0)::bigint AS n_eval_hit,
  (coalesce(h.n_matched_grams, 0) >= 2) AS contaminated,
  coalesce(b.n_bloom_grams, 0)::bigint AS n_bloom_grams,
  (coalesce(b.n_bloom_grams, 0) >= 2) AS contaminated_bloom
FROM documents d
LEFT JOIN hits h ON d.doc_id = h.doc_id
LEFT JOIN bh b ON d.doc_id = b.doc_id
"""


# ------------------------------------------------------- similarity family

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["embeddings"])
    emb = _emb_df(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5, dims=64)


SQL_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    CASE WHEN sqrt({_DUCK_DOT.format(a='cv', b='cv')}) = 0
           OR sqrt({_DUCK_DOT.format(a='qv', b='qv')}) = 0 THEN 0.0
         ELSE floor({_DUCK_DOT.format(a='cv', b='qv')} /
               (sqrt({_DUCK_DOT.format(a='cv', b='cv')}) *
                sqrt({_DUCK_DOT.format(a='qv', b='qv')}))
               * 1000000) / 1000000 END AS cosine_sim
  FROM c, q WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, cosine_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine_sim DESC, neighbor_id ASC) <= 5
"""


# 4 planes / cosine ≥ 0.25: tuned to the synthetic embeddings (max pairwise
# cosine ≈ 0.51), so the candidate buckets and the verify filter both fire.
def q_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["embeddings"])
    return lsh_ann_pairs(
        _emb_df(spark), planes=hyperplanes(4), min_cosine=0.25
    )


def _sql_ann_lsh() -> str:
    # Hyperplane components inlined as literals — the same values
    # similarity.hyperplanes() bakes into the Spark plan.
    bits = []
    for plane in hyperplanes(4):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]::double[]"
        dot = _DUCK_DOT.format(a="embedding", b=lit)
        bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
    bucket = "concat(" + ", ".join(bits) + ")"
    pair_dot = _DUCK_DOT.format(a="l.v", b="r.v")
    norm_l = _DUCK_DOT.format(a="l.v", b="l.v")
    norm_r = _DUCK_DOT.format(a="r.v", b="r.v")
    return f"""
WITH b AS (
  SELECT vec_id AS id, embedding AS v, {bucket} AS bucket
  FROM embeddings),
pairs AS (
  SELECT l.id AS id_a, r.id AS id_b,
    CASE WHEN sqrt({norm_l}) = 0 OR sqrt({norm_r}) = 0 THEN 0.0
         ELSE floor({pair_dot} / (sqrt({norm_l}) * sqrt({norm_r}))
               * 1000000) / 1000000
    END AS cosine_sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.25
"""


# T=3 tables × 4 planes: the multi-table RECALL LEVER under the hard gate
# (table 0 reuses the single-table seed, so this candidate set is a strict
# superset of ann_lsh_pairs' — asserted by test_curation_ops).
def q_ann_lsh_pairs_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["embeddings"])
    return lsh_ann_pairs(
        _emb_df(spark), min_cosine=0.25,
        n_tables=3, dims=64, n_planes=4,
    )


def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental embedding ANN through the real store path:
    the committed cohort's (id, v, nrm, bucket) sketches go through
    tableio snapshot-append and come back from parquet; the delta (every
    5th vector) is bucket-joined against itself and the store, with
    exact-cosine verify from the stored vectors.  Oracle = the one-shot
    single-table LSH pair set restricted to pairs touching the delta."""
    from ocr_spark.similarity import ann_sketches, incremental_lsh_ann_pairs
    from ocr_spark.tableio import ParquetManifestIO

    _register(spark, sf_dir, ["embeddings"])
    emb = _emb_df(spark)
    planes = hyperplanes(4)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    committed_docs = emb.filter(F.col("vec_id") % 5 != 0)

    io = ParquetManifestIO(_stream_workdir("increm_ann"))
    io.append(ann_sketches(committed_docs, planes=planes), "ann")
    committed = io.read(spark, "ann")
    return incremental_lsh_ann_pairs(
        ann_sketches(delta, planes=planes), committed,
        dims=64, min_cosine=0.25,
    )


def _sql_ann_incremental() -> str:
    return (
        _sql_ann_lsh().rstrip()
        + "\n  AND (id_a % 5 = 0 OR id_b % 5 = 0)\n"
    )


def _sql_ann_lsh_multi(n_tables: int = 3, n_planes: int = 4) -> str:
    def bucket_for(seed: str) -> str:
        bits = []
        for plane in hyperplanes(n_planes, dims=64, seed=seed):
            lit = "[" + ", ".join(repr(v) for v in plane) + "]::double[]"
            dot = _DUCK_DOT.format(a="embedding", b=lit)
            bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
        return "concat(" + ", ".join(bits) + ")"

    banded = " UNION ALL ".join(
        f"SELECT vec_id AS id, {t} AS tbl, "
        f"{bucket_for('lsh' if t == 0 else f'lsh/t{t}')} AS bucket "
        f"FROM embeddings"
        for t in range(n_tables)
    )
    pair_dot = _DUCK_DOT.format(a="va.embedding", b="vb.embedding")
    norm_a = _DUCK_DOT.format(a="va.embedding", b="va.embedding")
    norm_b = _DUCK_DOT.format(a="vb.embedding", b="vb.embedding")
    return f"""
WITH b AS ({banded}),
pid AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
   AND l.id < r.id),
pairs AS (
  SELECT id_a, id_b,
    CASE WHEN sqrt({norm_a}) = 0 OR sqrt({norm_b}) = 0 THEN 0.0
         ELSE floor({pair_dot} / (sqrt({norm_a}) * sqrt({norm_b}))
               * 1000000) / 1000000
    END AS cosine_sim
  FROM pid JOIN embeddings va ON pid.id_a = va.vec_id
           JOIN embeddings vb ON pid.id_b = vb.vec_id)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.25
"""


# 32, not 16: at 16 dims hash-collision noise inflates unrelated-pair
# cosine enough that 14.6% of LSH candidates cleared the 0.85 verify at
# sf0.1 (889k pairs, ~3.2k true); 32 dims collapses that to 124k pairs at
# the SAME true-pair count and wall time.  64 dims adds nothing more
# (136k pairs) and the 64-term unrolled expressions fall off whole-stage
# codegen (84 s vs 12 s) — measured 2026-08-17.
EMBED_DIMS = 32


def _duck_embed_cte(corpus_sql: str, dims: int = EMBED_DIMS) -> str:
    """CTE chain ending in ``emb(id, vec)`` — the arithmetic twin of
    similarity.embed_hash over ``corpus_sql`` (must yield doc_id, text):
    signed-feature-hash bigint sums per dimension, one final IEEE
    divide-by-norm."""
    sgn = "(CASE WHEN (h >> 20) & 1 = 1 THEN 1 ELSE -1 END)"
    sum_cols = ", ".join(
        f"sum(CASE WHEN h % {dims} = {j} THEN {sgn} ELSE 0 END)::bigint"
        f" AS s{j}"
        for j in range(dims)
    )
    fill = ", ".join(
        f"coalesce(s.s{j}, 0) AS s{j}" for j in range(dims)
    )
    ssq = " + ".join(f"s{j} * s{j}" for j in range(dims))
    vec = ", ".join(
        f"CASE WHEN nrm = 0 THEN 0.0 ELSE s{j} / nrm END"
        for j in range(dims)
    )
    return f"""
ecorpus AS ({corpus_sql}),
etok AS (SELECT doc_id, unnest({_DUCK_TOKENS.format(t='text')}) AS tok
         FROM ecorpus),
ehash AS (SELECT doc_id, {_DUCK_HASH.format(x='tok')} AS h FROM etok),
esums AS (SELECT doc_id, {sum_cols} FROM ehash GROUP BY doc_id),
efill AS (SELECT c.doc_id, {fill}
          FROM ecorpus c LEFT JOIN esums s ON c.doc_id = s.doc_id),
enorm AS (SELECT *, sqrt(({ssq})::double) AS nrm FROM efill),
emb AS (SELECT doc_id AS id, [{vec}]::double[] AS vec FROM enorm)"""


def q_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → embedding (signed feature hashing, L2-normalized), in long
    form (doc_id, dim, val) so the float values hash cross-engine via
    trunc4 instead of comparing array string reprs."""
    emb = embed_hash(_docs_df(spark, sf_dir), dims=EMBED_DIMS)
    return emb.select(
        F.col("id"), F.posexplode("vec").alias("dim", "v")
    ).select(
        F.col("id").alias("doc_id"),
        F.col("dim").cast("bigint").alias("dim"),
        ts.trunc4(F.col("v")).alias("val"),
    )


def _sql_embed_hash(dims: int = EMBED_DIMS) -> str:
    longform = " UNION ALL ".join(
        f"SELECT doc_id, {j}::bigint AS dim, "
        f"CASE WHEN nrm = 0 THEN 0.0 "
        f"ELSE floor(s{j} / nrm * 10000.0) / 10000.0 END AS val FROM enorm"
        for j in range(dims)
    )
    return (
        "WITH "
        + _duck_embed_cte("SELECT doc_id, text FROM documents", dims)
        + f"\n{longform}"
    )


def q_text_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END text → vector → ANN chain with no external
    embedding table: near-dup corpus → embed_hash (EMBED_DIMS-wide signed
    feature hashing) → hyperplane-LSH bucketed candidate pairs →
    exact-cosine verify.  A word-dropped near-duplicate keeps ~6/7 of its
    token votes, so bucket-colliding true pairs land above the 0.85
    verify threshold; the embedding width controls how much
    hash-collision noise unrelated pairs carry (see the EMBED_DIMS note —
    32 dims passes ~2% of candidates vs ~15% at 16).  6 planes keep the
    sf0.01 fixture's 1,000 docs in ~64 buckets and the sf0.1 bench's
    10,000 docs out of the quadratic regime (4 planes measured ~125k
    verified pairs at sf0.1); raise planes with corpus size, and use the
    multi-table lever (ann_lsh_pairs_multi) for the sign-flip recall a
    single table leaves behind."""
    corpus = _near_corpus(spark, sf_dir)
    emb = embed_hash(corpus, dims=EMBED_DIMS)
    return lsh_ann_pairs(
        emb, id_col="id", vec_col="vec",
        planes=hyperplanes(6, dims=EMBED_DIMS), min_cosine=0.85,
    )


def _sql_text_ann_pairs(dims: int = EMBED_DIMS) -> str:
    bits = []
    for plane in hyperplanes(6, dims=dims):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]::double[]"
        dot = _DUCK_DOT.format(a="vec", b=lit)
        bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
    bucket = "concat(" + ", ".join(bits) + ")"
    pair_dot = _DUCK_DOT.format(a="l.v", b="r.v")
    norm_l = _DUCK_DOT.format(a="l.v", b="l.v")
    norm_r = _DUCK_DOT.format(a="r.v", b="r.v")
    return f"""
WITH {_duck_embed_cte(_DUCK_NEAR_CORPUS, dims)},
b AS (SELECT id, vec AS v, {bucket} AS bucket FROM emb),
pairs AS (
  SELECT l.id AS id_a, r.id AS id_b,
    CASE WHEN sqrt({norm_l}) = 0 OR sqrt({norm_r}) = 0 THEN 0.0
         ELSE floor({pair_dot} / (sqrt({norm_l}) * sqrt({norm_r}))
               * 1000000) / 1000000
    END AS cosine_sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.85
"""


# -------------------------------------------------------- textstats family

def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed top-k ANN: the scale path that scores only the n_probes
    closest inverted-file cells per query (vs the brute-force baseline in
    ann_cosine_topk)."""
    _register(spark, sf_dir, ["embeddings"])
    emb = _emb_df(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_search(emb, queries, k=5, n_probes=2)


def _sql_ann_ivf(k: int = 5, n_probes: int = 2) -> str:
    cells = []
    for i, c in enumerate(ivf_centroids()):
        lit = "[" + ", ".join(repr(v) for v in c) + "]::double[]"
        dot = _DUCK_DOT.format(a="embedding", b=lit)
        cells.append(
            f"{{'score': {dot}, 'prio': {-i}, 'cell': {i}}}"
        )
    structs = "[" + ", ".join(cells) + "]"
    pair_dot = _DUCK_DOT.format(a="c.v", b="q.qv")
    norm_c = _DUCK_DOT.format(a="c.v", b="c.v")
    norm_q = _DUCK_DOT.format(a="q.qv", b="q.qv")
    return f"""
WITH assigned AS (
  SELECT vec_id AS id, embedding AS v,
         (list_max({structs})).cell AS cell
  FROM embeddings),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv,
         unnest(list_transform(
           list_reverse(list_sort({structs}))[1:{n_probes}],
           s -> s.cell)) AS cell
  FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.id AS neighbor_id,
    CASE WHEN sqrt({norm_c}) = 0 OR sqrt({norm_q}) = 0 THEN 0.0
         ELSE floor({pair_dot} / (sqrt({norm_c}) * sqrt({norm_q}))
               * 1000000) / 1000000
    END AS cosine_sim
  FROM assigned c JOIN probes q ON c.cell = q.cell
  WHERE c.id <> q.query_id)
SELECT query_id, neighbor_id, cosine_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine_sim DESC, neighbor_id ASC) <= {k}
"""


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED coarse quantizer under the hard gate: spherical k-means
    (integer-quantized centroid sums — bit-deterministic across
    partitionings) runs live on the embeddings table, then the identical
    probe/search path as `ann_ivf_topk`.  Oracle = precomputed truth from
    the bit-exact Python twin (tests/oracle_ivf.py), keyed by a content
    fingerprint of the embeddings table (see tools/gen_truth.py)."""
    _register(spark, sf_dir, ["embeddings"])
    emb = _emb_df(spark)
    cents = ivf_train_kmeans(emb, n_cells=8, n_iters=3, dims=64)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_search(emb, queries, k=5, n_probes=2, centroids=cents)


def _sql_ann_ivf_trained() -> str:
    # fingerprint twin: tools/gen_truth.py::embeddings_fingerprint
    return f"""
WITH k AS (
  SELECT md5(string_agg(
           cast(vec_id AS varchar) || ':' ||
           cast(cast(floor(embedding[1]::double * 1000000.0) AS bigint)
                AS varchar),
           ',' ORDER BY vec_id)) AS ck
  FROM embeddings)
SELECT query_id, neighbor_id, cosine_sim
FROM read_parquet('{_TRUTH_DIR}/ann_ivf_trained.parquet') t, k
WHERE t.corpus_key = k.ck
"""


# Contract-scale SemDeDup configuration, shared by the Spark query and
# its oracle so the two can never drift: 8 seeded cells keep the sf0.01
# near-corpus's ~2,000 docs at ~250 docs/cell (the within-cell join is
# Σ|cell|²/2), and 0.85 is the operator's default verify threshold.
SEMANTIC_CELLS = 8
SEMANTIC_T = 0.85


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup clusters (similarity.semantic_dedup)
    over the near-dup corpus with the SEEDED plan-literal quantizer
    (``train=False``): assignment (struct-max argmax-dot), within-cell
    trunc6 cosine pairs, and the component closure all replay exactly in
    the DuckDB oracle.  The TRAINED path (and the arrow assignment
    engine) is gated by the plain-Python twin in pytest
    (test_semantic_dedup_matches_python_twin /
    test_semantic_dedup_arrow_assignment_matches_expr); cell/candidate
    counts were measured at 150k docs outside the gate."""
    from ocr_spark.similarity import semantic_dedup

    out = semantic_dedup(
        _near_corpus(spark, sf_dir), dims=EMBED_DIMS,
        n_cells=SEMANTIC_CELLS, threshold=SEMANTIC_T, train=False,
    )
    return out.select(
        "id",
        F.col("cell").cast("bigint").alias("cell"),
        "cluster_id",
        "is_canonical",
    )


def _sql_semantic_dedup(
    dims: int = EMBED_DIMS,
    n_cells: int = SEMANTIC_CELLS,
    threshold: float = SEMANTIC_T,
) -> str:
    from ocr_spark.similarity import _normalize, ivf_centroids

    # the IDENTICAL python floats semantic_dedup(train=False) inlines as
    # plan literals — repr round-trips the exact double on both engines
    cents = [_normalize(c) for c in ivf_centroids(n_cells, dims)]
    structs = []
    for i, c in enumerate(cents):
        lit = "[" + ", ".join(repr(v) for v in c) + "]::double[]"
        dot = _DUCK_DOT.format(a="vec", b=lit)
        structs.append(f"{{'score': {dot}, 'prio': {-i}, 'cell': {i}}}")
    cell = f"(list_max([{', '.join(structs)}])).cell"
    norm_self = _DUCK_DOT.format(a="vec", b="vec")
    pair_dot = _DUCK_DOT.format(a="l.v", b="r.v")
    # a / p MATERIALIZED: DuckDB otherwise inlines the embed + assignment
    # chain into BOTH join sides AND every recursive-CTE iteration — the
    # un-hinted form exhausted the 100 GiB memory limit on 1,000 docs
    return f"""
WITH RECURSIVE {_duck_embed_cte(_DUCK_NEAR_CORPUS, dims)},
a AS MATERIALIZED (SELECT id, vec AS v, {cell}::bigint AS cell,
             sqrt({norm_self}) AS nrm FROM emb),
p AS MATERIALIZED (
  SELECT l.id AS id_a, r.id AS id_b
  FROM a l JOIN a r ON l.cell = r.cell AND l.id < r.id
  WHERE l.nrm > 0 AND r.nrm > 0
    AND floor({pair_dot} / (l.nrm * r.nrm) * 1000000) / 1000000
        >= {threshold}),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM p),
reach(id, lab) AS (
  SELECT id, id AS lab FROM a
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT r.id, a.cell, min(r.lab) AS cluster_id,
       (r.id = min(r.lab)) AS is_canonical
FROM reach r JOIN a ON a.id = r.id
GROUP BY r.id, a.cell
"""


_BOILER_LINE = "corpus wide boilerplate header line"
_SEMI_LINE = "semi boilerplate shared by half"


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency line dedup over synthesized per-doc lines: every
    doc gets a universal boilerplate header (must drop), even docs get a
    half-corpus line (must drop at max_doc_frac=0.3), and the 8-token
    content chunks are unique (must survive in order)."""
    from ocr_spark.dedup import drop_frequent_lines

    df = _docs_df(spark, sf_dir)
    tk = ts.tokens(F.col("text"))
    idx = F.sequence(
        F.lit(1), F.ceil(F.size(tk) / F.lit(8.0)).cast("int")
    )
    chunks = F.when(
        F.size(tk) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            idx,
            lambda i: F.array_join(F.slice(tk, (i - 1) * 8 + 1, 8), " "),
        )
    )
    lines = F.concat(
        F.array(F.lit(_BOILER_LINE)),
        F.when(
            F.col("doc_id") % 2 == 0, F.array(F.lit(_SEMI_LINE))
        ).otherwise(F.array().cast("array<string>")),
        chunks,
    )
    out = drop_frequent_lines(
        df.select("doc_id", lines.alias("lines")), max_doc_frac=0.3
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.array_join("kept_lines", "\x1f").alias("kept_joined"),
        "n_lines_in",
        "n_lines_kept",
    )


def _sql_line_dedup() -> str:
    toks = _DUCK_TOKENS.format(t="text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
l AS (SELECT doc_id,
        list_concat(list_concat(
          ['{_BOILER_LINE}'],
          CASE WHEN doc_id % 2 = 0 THEN ['{_SEMI_LINE}']
               ELSE []::varchar[] END),
          CASE WHEN len(tk) = 0 THEN []::varchar[]
               ELSE list_transform(
                 generate_series(1, cast(ceil(len(tk) / 8.0) as int)),
                 i -> array_to_string(
                   list_slice(tk, (i - 1) * 8 + 1, i * 8), ' '))
          END) AS lines
      FROM t),
e AS (SELECT doc_id, unnest(lines) AS line,
             generate_subscripts(lines, 1) AS pos
      FROM l),
e2 AS (SELECT doc_id, pos, line,
              {_DUCK_HASH.format(x='line')} AS line_h
       FROM e),
f AS (SELECT line_h, count(DISTINCT doc_id) AS doc_freq
      FROM e2 GROUP BY line_h),
n AS (SELECT count(*) AS n_docs FROM l),
k AS (SELECT e2.doc_id, e2.pos, e2.line
      FROM e2 JOIN f USING (line_h), n
      WHERE f.doc_freq < 0.3 * n.n_docs),
agg AS (SELECT doc_id,
          array_to_string(list(line ORDER BY pos), chr(31)) AS kept_joined,
          count(*)::bigint AS n_lines_kept
        FROM k GROUP BY doc_id)
SELECT l.doc_id, coalesce(agg.kept_joined, '') AS kept_joined,
       len(l.lines)::bigint AS n_lines_in,
       coalesce(agg.n_lines_kept, 0)::bigint AS n_lines_kept
FROM l LEFT JOIN agg USING (doc_id)
"""


# PII-bearing input synthesized dialect-neutrally (documents text is clean)
_PII_INPUT_SQL = f"""
concat(substr(coalesce(text, ''), 1, 30),
       ' mail user', cast(doc_id % 50 as int), '@example.com',
       ' visit https://example.org/p/', cast(doc_id % 20 as int),
       ' call +52 55 1234 56', {_two('doc_id % 100')},
       ' host 10.0.', cast(doc_id % 200 as int), '.1 done')
"""


def _sql_scrub_pii() -> str:
    scrub = "raw"
    for _name, pattern, token in ts.PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pattern}', '{token}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(raw, '{pattern}'))::bigint AS {name}_n"
        for name, pattern, _token in ts.PII_PATTERNS
    )
    return f"""
WITH inp AS (SELECT doc_id, {_PII_INPUT_SQL} AS raw FROM documents)
SELECT doc_id, {scrub} AS scrubbed, {counts}
FROM inp
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: the canonical heavy-aggregation shape —
    explode tokens → hash-aggregate with map-side partial counts → global
    top-k with a fully deterministic tie-break."""
    df = _docs_df(spark, sf_dir)
    return (
        df.select(F.explode_outer(ts.tokens(F.col("text"))).alias("token"))
        .filter(F.col("token").isNotNull())
        .select(F.lower("token").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


SQL_VOCAB_TOPK = f"""
SELECT lower(token) AS token, count(*)::bigint AS n
FROM (SELECT unnest({_DUCK_TOKENS.format(t='text')}) AS token
      FROM documents)
GROUP BY 1
ORDER BY n DESC, token ASC
LIMIT 50
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation pipeline — the operators working together the
    way a training-data job uses them: language-ID + quality score +
    Gopher repetition gate per document, eval-set decontamination,
    near-dup cluster assignment, and the keep/drop decision (canonical
    member AND quality above threshold AND not repetitive AND not
    contaminated)."""
    from ocr_spark.assembly import curation_verdicts

    docs = _docs_df(spark, sf_dir).select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    return curation_verdicts(
        docs, eval_set, quality_min=0.5, decontam_n=3,
        decontam_min_overlap=2, verify_threshold=MINHASH_T,
    ).select(
        "doc_id",
        "pred_lang",
        "quality",
        "cluster_id",
        "repetitive",
        "contaminated",
        "kept",
    )


def _sql_curate_corpus() -> str:
    toks = _DUCK_TOKENS.format(t="text")
    hits = _DUCK_LANG_HITS
    sw = _SW_LIT["en"]
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes("SELECT doc_id, text FROM documents")},
nodes AS (SELECT doc_id AS id FROM corpus),
edges AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM mh_pairs),
reach(id, lab) AS (
  SELECT id, id AS lab FROM nodes
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (
  SELECT id, min(lab) AS cluster_id, (id = min(lab)) AS is_canonical
  FROM reach GROUP BY id),
t AS (SELECT doc_id, coalesce(text, '') AS txt, {toks} AS tk
      FROM documents),
h AS (SELECT doc_id, tk, txt, {hits['de']} AS h_de, {hits['en']} AS h_en,
             {hits['es']} AS h_es, {hits['fr']} AS h_fr
      FROM t),
m AS (
  SELECT doc_id,
    {_LANGID_CASE} AS pred_lang,
    len(tk)::bigint AS n_tokens,
    CASE WHEN length(txt) = 0 THEN 0.0
         ELSE floor(len(regexp_extract_all(txt, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]'))::double
                    / length(txt) * 10000) / 10000 END AS punct_ratio,
    len(list_filter(tk, x -> list_contains({sw}, lower(x)))) AS sw_hits
  FROM h),
q AS (
  SELECT doc_id, pred_lang,
    {_QUALITY_FORMULA} AS quality
  FROM m),
rg AS (
  SELECT doc_id, len(tk)::bigint AS n_tokens,
    CASE WHEN len(tk) - 2 <= 0 THEN 0.0 ELSE
      floor((1.0 - len({_DUCK_SHINGLES.format(tk='tk')})::double /
             (len(tk) - 2)::double) * 10000.0) / 10000.0 END AS dup3
  FROM t),
rtc AS (
  SELECT doc_id,
    floor((max(c)::double / sum(c)::double) * 10000.0) / 10000.0 AS ttf
  FROM (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
        GROUP BY doc_id, tok)
  GROUP BY doc_id),
rep AS (
  SELECT rg.doc_id,
    (rg.n_tokens >= 50 AND
     (coalesce(rtc.ttf, 0.0) > 0.20 OR rg.dup3 > 0.30)) AS repetitive
  FROM rg LEFT JOIN rtc ON rg.doc_id = rtc.doc_id),
eg AS (
  SELECT DISTINCT doc_id AS eval_id, unnest(
    {_DUCK_SHINGLE_HASHES.format(tk='tk')}) AS g
  FROM t WHERE doc_id % 17 = 0),
dg AS (
  SELECT doc_id, unnest({_DUCK_SHINGLE_HASHES.format(tk='tk')}) AS g
  FROM t),
chit AS (
  SELECT dg.doc_id, count(DISTINCT dg.g)::bigint AS nm
  FROM dg JOIN eg ON dg.g = eg.g GROUP BY dg.doc_id),
cont AS (
  SELECT d.doc_id, (coalesce(chit.nm, 0) >= 2) AS contaminated
  FROM documents d LEFT JOIN chit ON d.doc_id = chit.doc_id)
SELECT q.doc_id, q.pred_lang, q.quality, c.cluster_id,
       r.repetitive, co.contaminated,
       (c.is_canonical AND q.quality >= 0.5
        AND NOT r.repetitive AND NOT co.contaminated) AS kept
FROM q JOIN clusters c ON q.doc_id = c.id
JOIN rep r ON q.doc_id = r.doc_id
JOIN cont co ON q.doc_id = co.doc_id
"""


def _sql_langid() -> str:
    toks = _DUCK_TOKENS.format(t="text")
    h = _DUCK_LANG_HITS
    return f"""
WITH t AS (SELECT doc_id, lang, {toks} AS tk FROM documents),
h AS (SELECT doc_id, lang, {h['de']} AS h_de, {h['en']} AS h_en,
             {h['es']} AS h_es, {h['fr']} AS h_fr
      FROM t)
SELECT doc_id, lang, {_LANGID_CASE} AS pred_lang
FROM h
"""


def _sql_quality() -> str:
    toks = _DUCK_TOKENS.format(t="text")
    sw = _SW_LIT["en"]
    return f"""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS txt, {toks} AS tk FROM documents),
m AS (
  SELECT doc_id, tk,
    len(tk)::bigint AS n_tokens,
    len(regexp_extract_all(txt,
        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]'))::bigint AS n_bpe_tokens,
    CASE WHEN length(txt) = 0 THEN 0.0
         ELSE floor(len(regexp_extract_all(txt, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]'))::double
                    / length(txt) * 10000) / 10000 END AS punct_ratio,
    len(list_filter(tk, x -> list_contains({sw}, lower(x)))) AS sw_hits
  FROM t)
SELECT doc_id, n_tokens, n_bpe_tokens, punct_ratio,
  {_QUALITY_FORMULA} AS quality
FROM m
"""


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document STATS PANEL: language-ID, quality scoring, token
    counting, winnowing/prefix/whole-doc fingerprints, PII scrub +
    counts, and the 16-bit SimHash signature — ONE scan of the documents
    table producing every per-doc scalar column a curation job annotates
    with before any corpus-level pass (``langid``, ``quality_score``,
    ``fingerprint``, ``scrub_pii``, ``dedup_simhash``).  Fusing them
    keeps the registry inside the driver's 50-query window AND is the
    production shape — per-doc scalar columns belong in one projection
    over one scan, not five scans of the same table.  Each operator
    keeps its own oracle-verified columns: the oracle joins the five
    operators' oracle blocks on doc_id.

    ``clf_prob_ppm`` is the TRAINED quality classifier
    (ocr_spark/classifier.py): a linear probe over hashed token counts,
    trained LIVE here by exact-integer GD on label ``lang == 'en'``
    (the reference-corpus-membership shape) and scored over every doc.
    Training is iterative, so its oracle is precomputed truth from the
    bit-exact plain-Python twin (tests/oracle_clf.py via
    tools/gen_truth.py), keyed by a content fingerprint of the
    documents table — the same hard-gate mechanism as
    ``ann_ivf_trained``.  Corpus note: the driver's synthetic documents
    draw every language from ONE vocabulary, so this label is
    text-independent here and trained accuracy sits at the base rate by
    construction; the gate is the train+score arithmetic (learning is
    proven on a separable corpus in tests/test_classifier.py)."""
    from ocr_spark.classifier import quality_probe

    docs = _docs_df(spark, sf_dir)
    clf = quality_probe(
        docs.select("doc_id", "text", "lang"),
        # coalesce: a NULL lang is 'not the reference corpus', not a
        # NULL label (which train_linear_probe rejects loudly)
        F.coalesce(F.col("lang") == F.lit("en"), F.lit(False)),
    ).select(F.col("id").alias("doc_id"), "clf_prob_ppm")
    df = ts.with_winnow_fingerprints(
        docs.select("doc_id", "lang", "text")
    )
    winnow = F.col("winnow")
    t = F.col("text")
    # coalesce for NULL-text parity with the oracle's coalesce(text, '')
    nn_text = F.coalesce(t, F.lit(""))
    raw = F.expr(_PII_INPUT_SQL)
    return df.select(
        "doc_id",
        "lang",
        ts.langid(t).alias("pred_lang"),
        ts.token_count(t).alias("n_tokens"),
        ts.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        ts.punct_ratio(t).alias("punct_ratio"),
        ts.quality_score(t, "en").alias("quality"),
        ts.fingerprint(nn_text).alias("fp"),
        ts.prefix_fingerprint(nn_text).alias("prefix_fp"),
        F.size(winnow).cast("bigint").alias("n_winnow"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(F.array_sort(winnow), lambda h: h.cast("string")),
            )
        ).alias("winnow_digest"),
        ts.scrub_pii(raw).alias("scrubbed"),
        *ts.pii_counts(raw),
        simhash16(ts.tokens(t)).alias("simhash"),
    ).join(clf, on="doc_id")


def _sql_doc_stats() -> str:
    pii_cols = ", ".join(
        f"o4.{name}_n" for name, _p, _t in ts.PII_PATTERNS
    )
    return f"""
WITH o1 AS ({_sql_langid()}),
o2 AS ({_sql_quality()}),
o3 AS ({_sql_fingerprint()}),
o4 AS ({_sql_scrub_pii()}),
o5 AS ({_sql_simhash("SELECT doc_id, text, lang FROM documents")}),
kclf AS (
  SELECT md5(string_agg(
           cast(doc_id AS varchar) || ':' ||
           md5(coalesce(text, chr(1))) || ':' ||
           coalesce(lang, chr(1)),
           ',' ORDER BY doc_id)) AS ck
  FROM documents),
o6 AS (
  SELECT t.doc_id, t.clf_prob_ppm
  FROM read_parquet('{_TRUTH_DIR}/clf_quality.parquet') t, kclf
  WHERE t.corpus_key = kclf.ck)
SELECT o1.doc_id, o1.lang, o1.pred_lang,
       o2.n_tokens, o2.n_bpe_tokens, o2.punct_ratio, o2.quality,
       o3.fp, o3.prefix_fp, o3.n_winnow, o3.winnow_digest,
       o4.scrubbed, {pii_cols},
       o5.simhash, o6.clf_prob_ppm
FROM o1 JOIN o2 USING (doc_id) JOIN o3 USING (doc_id)
JOIN o4 USING (doc_id) JOIN o5 ON o1.doc_id = o5.id
JOIN o6 ON o1.doc_id = o6.doc_id
"""


def _sql_fingerprint(k: int = 5, w: int = 4) -> str:
    norm = _DUCK_NORM.format(t="coalesce(text, '')")
    toks = _DUCK_TOKENS.format(t=norm)
    return f"""
WITH g AS (
  SELECT doc_id, {norm} AS t,
    CASE WHEN length({norm}) < {k} THEN []::bigint[]
         ELSE list_transform(
           generate_series(1, length({norm}) - {k - 1}),
           i -> ('0x' || substr(md5(substr({norm}, i, {k})), 1, 15))::bigint)
    END AS grams
  FROM documents),
wsel AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(grams) < {w} THEN []::bigint[]
         ELSE list_transform(
           generate_series(1, len(grams) - {w - 1}),
           j -> list_min(grams[j:j + {w - 1}]))
    END) AS sel
  FROM g)
SELECT d.doc_id,
  md5({norm}) AS fp,
  -- coalesce is LOAD-BEARING: DuckDB's array_to_string of an EMPTY
  -- list is NULL while Spark's array_join/concat_ws is '' — without
  -- it an empty/NULL-text doc gets digest NULL here but md5('') on
  -- the Spark side (caught by tests/test_oracle_dialect_edges.py)
  ('0x' || substr(md5(coalesce(array_to_string(list_transform(
      generate_series(1, least(len({toks}), 8)),
      i -> ({toks})[i]), ' '), '')), 1, 15))::bigint AS prefix_fp,
  len(w2.sel)::bigint AS n_winnow,
  md5(coalesce(array_to_string(list_sort(w2.sel), ','), ''))
    AS winnow_digest
FROM documents d JOIN wsel w2 ON d.doc_id = w2.doc_id
"""


# -------------------------------------------------------- relational demos

def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["lineitem"])
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)")
                 * (F.lit(1).cast("decimal(18,2)")
                    - F.col("l_discount").cast("decimal(18,4)")))
                .cast("decimal(28,6)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_LINEITEM_PRICING = """
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
  cast(sum(cast(l_extendedprice as decimal(18,2))) as double)
    AS sum_base_price,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2))
        * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,4)))
        as decimal(28,6))) as double) AS sum_disc_price,
  count(*)::bigint AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["orders", "customer"])
    orders = spark.table("orders")
    cust = spark.table("customer")
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total_price"),
        )
    )


SQL_ORDERS_BY_SEGMENT = """
SELECT c_mktsegment,
  count(*)::bigint AS n_orders,
  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# Batch sessionization / hourly-window SQL: the oracles of the STREAMING
# rows (q_events_sessions_stream / q_events_hourly_stream), which drain
# through foreachBatch and are gated against these batch results.
SQL_EVENTS_SESSIONS = """
WITH g AS (
  SELECT user_id,
    CASE WHEN epoch(ts - lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)) > 1800
         THEN 1 ELSE 0 END AS brk
  FROM events
  WHERE ts IS NOT NULL)
SELECT user_id, (sum(brk) + 1)::bigint AS n_sessions,
       count(*)::bigint AS n_events
FROM g GROUP BY user_id
"""
# ^ ts IS NOT NULL mirrors the stateful operator's dropna: a NULL event
# time joins no session on either engine (the engine's late-row filter
# does NOT drop such rows, so the operator really does see them).


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
    AS window_start, event_type,
  count(*)::bigint AS n_events,
  cast(sum(cast(value as decimal(28,4))) as double) AS total_value
FROM events
GROUP BY 1, event_type
"""


# ------------------------------------------------- streaming (drained)
#
# The two Structured-Streaming operators (watermarked tumbling-window agg,
# stateful sessionization) go under the SAME hard oracle gate as their
# batch twins: the contract query drains the stream with availableNow into
# parquet (ocr_spark.streaming.drain_* — a sentinel row drives the final
# watermark past every real window/session, so APPEND mode finalizes
# everything) and returns the read-back result shaped exactly like the
# batch query, checked against the identical batch SQL oracle.

def _stream_workdir(name: str) -> str:
    """Fresh work dir for a stream drain, under a PER-USER parent whose
    stale entries (> 6 h old) are pruned first — repeated contract runs
    must not accumulate unbounded drained parquet + checkpoint data.
    Per-uid parent: a fixed shared path would be unwritable for the
    second user on a multi-user host.  The 6 h cutoff is ~400× a drain's
    lifetime, so pruning cannot race a concurrently live run."""
    import shutil
    import tempfile
    import time as _time

    uid = _os.getuid() if hasattr(_os, "getuid") else "u"
    parent = _os.path.join(
        tempfile.gettempdir(), f"ocrspark_stream_contract_{uid}"
    )
    _os.makedirs(parent, exist_ok=True)
    cutoff = _time.time() - 6 * 3600
    for entry in _os.scandir(parent):
        try:
            if entry.is_dir() and entry.stat().st_mtime < cutoff:
                shutil.rmtree(entry.path, ignore_errors=True)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=f"{name}_", dir=parent)


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.streaming import drain_windowed_counts

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        # session tz is UTC, so NTZ → LTZ preserves the wall clock and the
        # streamed window starts render identically to the batch twin's
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                "event_type", "value")
    )
    got = drain_windowed_counts(spark, ev, _stream_workdir("hourly"))
    return got.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def q_events_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.streaming import drain_sessions

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                "event_type", "value")
    )
    got = drain_sessions(spark, ev, _stream_workdir("sessions"))
    # roll the per-session rows up to the batch twin's per-user shape
    return got.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


def q_curp_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 state lookup as a BROADCAST JOIN against a dimension DataFrame
    (the alternative to the `create_map` literal used by `curp_parse` —
    both shapes exist so either can serve depending on dimension size)."""
    df = _cards_df(spark, sf_dir)
    dim = spark.createDataFrame(
        list(CURP_STATE_CODES.items()), schema="code string, estado string"
    )
    code = F.upper(F.substring(F.col("curp"), 12, 2))
    keyed = df.select(
        "doc_id",
        F.when(F.length("curp") >= 16, code).alias("code"),
    )
    return (
        keyed.join(F.broadcast(dim), on="code", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("estado"), F.lit("")).alias("estado"),
        )
    )


def _sql_curp_state_join() -> str:
    rows = ", ".join(
        f"('{k}', '{v.replace(chr(39), chr(39) * 2)}')"
        for k, v in CURP_STATE_CODES.items()
    )
    return f"""
WITH cards AS ({CARDS_SQL}),
dim(code, estado) AS (VALUES {rows}),
keyed AS (
  SELECT doc_id,
    CASE WHEN length(curp) >= 16 THEN upper(substr(curp, 12, 2)) END AS code
  FROM cards)
SELECT doc_id, coalesce(estado, '') AS estado
FROM keyed LEFT JOIN dim USING (code)
"""


# --------------------------------------- pipeline ops (precomputed truth)
#
# The pandas-UDF pipeline stages can't be re-expressed as ANSI SQL over the
# driver tables, but their inputs are pure functions of (seed, n_docs), so
# their expected outputs are precomputed WITHOUT Spark (tools/gen_truth.py,
# doc-by-doc Python via tests/oracle.py) and committed as parquet; the
# oracle is a SELECT over read_parquet(...), putting the full distribution
# machinery (explode → join → salted repartition → mapInPandas → splice)
# under the driver's hard rows+schema+hash gate.  The truth files carry an
# n_docs column and the SQL selects the slice matching count(documents), so
# one static string works at every scale factor.

import os as _os

# Repo-checkout default; overridable for deployments where ocr_spark ships
# as a --py-files zip (fixtures/ is not in the zip — point this at an
# unpacked copy if the DuckDB oracles are needed off-checkout).
_TRUTH_DIR = _os.environ.get("OCR_SPARK_TRUTH_DIR") or _os.path.abspath(
    _os.path.join(_os.path.dirname(__file__), "..", "fixtures", "truth")
)


def _truth_sql(name: str, cols: str) -> str:
    return f"""
WITH nn AS (SELECT count(*) AS c FROM documents)
SELECT {cols}
FROM read_parquet('{_TRUTH_DIR}/{name}.parquet') t, nn
WHERE t.n_docs = nn.c
"""


# Span-sequence digest: canonical encoding of the north-rule invariant
# (kind, text, media_ref, order) — '∅' null sentinel, \x1e field / \x1f span
# separators, md5 over UTF-8.  Twin: tools/gen_truth.py::spans_digest.
def _spans_digest_col() -> Column:
    return F.md5(
        F.concat_ws(
            "\x1f",
            F.transform(
                "spans_out",
                lambda s: F.concat_ws(
                    "\x1e",
                    s["kind"],
                    F.coalesce(s["text"], F.lit("∅")),
                    F.coalesce(s["media_ref"], F.lit("∅")),
                    s["offset"].cast("string"),
                ),
            ),
        )
    )


# single source of truth for the field columns — tools/gen_truth.py builds
# the truth parquet from the same tuple, so the two sides cannot drift
from ocr_spark.extraction.fields import FIELD_ORDER as _EXTRACT_FIELD_COLS


def q_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.corpus import corpus_dataframes_distributed, docs_count_for_sf
    from ocr_spark.pipeline import run_extraction

    n = docs_count_for_sf(spark, sf_dir)
    spans, media = corpus_dataframes_distributed(spark, seed=42, n_docs=n)
    out = run_extraction(spark, spans, media)
    return out.select(
        "doc_id",
        F.size("spans_out").cast("bigint").alias("n_spans"),
        F.size("errors").cast("bigint").alias("n_errors"),
        _spans_digest_col().alias("spans_digest"),
        *[F.col(f"fields.{c}").alias(c) for c in _EXTRACT_FIELD_COLS],
    )


SQL_EXTRACT_PIPELINE = _truth_sql(
    "extract_pipeline",
    "doc_id, n_spans, n_errors, spans_digest, "
    + ", ".join(_EXTRACT_FIELD_COLS),
)


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.udfs import strip_boilerplate_udf

    df = _docs_df(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "concat('<html><head><script>var x=1;</script></head><body>"
            "<nav><ul><li><a href=\"/a\">aaa</a></li></ul></nav><p>', "
            "substr(text, 1, 200), "
            "'</p><footer>footer text here</footer></body></html>')"
        ).alias("html"),
    )
    return df.select(
        "doc_id", strip_boilerplate_udf(F.col("html")).alias("main_text")
    )


# Independent oracle (not precomputed truth): the synthetic wrapper's
# script/nav/footer are boilerplate by construction and the driver corpus
# text is markup-free (verified: no '<'/'&', min length 48 ≥ the 10-char
# text-to-tag threshold), so the expected main text reduces to the
# whitespace-collapsed first 200 chars — expressible in plain SQL.
SQL_STRIP_BOILERPLATE = """
SELECT doc_id,
  trim(regexp_replace(substr(text, 1, 200), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS main_text
FROM documents
"""


def q_split_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.udfs import split_name_udf

    df = _docs_df(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "case cast(doc_id % 4 as int) "
            "when 0 then 'CASTILLO OLIVERA RICARDO ORLANDO' "
            "when 1 then 'DE LA CRUZ GOMEZ MARIA FERNANDA' "
            "when 2 then 'GARCIA LOPEZ JOSE LUIS' "
            "else 'PEREZ JUAN' end"
        ).alias("nombre"),
        F.expr(
            "case cast(doc_id % 4 as int) "
            "when 0 then 'CAOR930531HQRSLC09' "
            "when 1 then 'CUGF850214MDFRZR08' "
            "when 2 then 'GALJ900101HJCRPS01' "
            "else 'PEJU880101HDFRRN02' end"
        ).alias("curp"),
    )
    parts = split_name_udf(F.col("nombre"), F.col("curp"))
    return df.select(
        "doc_id",
        parts["apellido_paterno"].alias("apellido_paterno"),
        parts["apellido_materno"].alias("apellido_materno"),
        parts["nombres"].alias("nombres"),
    )


# Expected splits for the four fixed (nombre, curp) inputs, precomputed with
# the pinned scorer (ocr_spark/extraction/name_split.py; reference semantics
# main.py:1449-1527) and inlined — the oracle is input-shape-driven, so it
# holds at any scale factor.
SQL_SPLIT_NAME = """
SELECT doc_id,
  CASE cast(doc_id % 4 as int)
    WHEN 0 THEN 'CASTILLO' WHEN 1 THEN 'DE LA CRUZ'
    WHEN 2 THEN 'GARCIA' ELSE 'PEREZ' END AS apellido_paterno,
  CASE cast(doc_id % 4 as int)
    WHEN 0 THEN 'OLIVERA' WHEN 1 THEN 'GOMEZ'
    WHEN 2 THEN 'LOPEZ' ELSE '' END AS apellido_materno,
  CASE cast(doc_id % 4 as int)
    WHEN 0 THEN 'RICARDO ORLANDO' WHEN 1 THEN 'MARIA FERNANDA'
    WHEN 2 THEN 'JOSE LUIS' ELSE 'JUAN' END AS nombres
FROM documents
"""


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.corpus import corpus_dataframes_distributed, docs_count_for_sf
    from ocr_spark.multimodal import extract_media_meta

    n = docs_count_for_sf(spark, sf_dir)
    _, media = corpus_dataframes_distributed(spark, seed=42, n_docs=n)
    # '' for the no-error case so the hash never depends on engines'
    # NULL canonicalization.
    return extract_media_meta(media).withColumn(
        "error", F.coalesce(F.col("error"), F.lit(""))
    )


SQL_MEDIA_META = _truth_sql(
    "media_meta",
    "media_ref, fmt, width, height, n_lines, n_bytes, error",
)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.corpus import corpus_dataframes_distributed, docs_count_for_sf
    from ocr_spark.multimodal import sample_frames

    n = docs_count_for_sf(spark, sf_dir)
    _, media = corpus_dataframes_distributed(spark, seed=42, n_docs=n)
    return sample_frames(media, every_n=2).select(
        "media_ref",
        "frame_idx",
        F.coalesce(F.col("frame_ref"), F.lit("")).alias("frame_ref"),
        F.coalesce(F.col("error"), F.lit("")).alias("error"),
    )


SQL_FRAME_SAMPLE = _truth_sql(
    "frame_sample", "media_ref, frame_idx, frame_ref, error"
)


# ---------------------------------------------------------------------------

def registry() -> dict[str, Entry]:
    """The driver evaluates the FIRST 50 entries in registry order —
    CORRECTNESS_r04 proved that the hard way when the registry grew to 62
    and the 12 highest-value queries (the flagship among them) silently
    fell off the back.  Round-5 contract: (a) the registry holds at most
    50 entries, enforced by tests/test_entry_contract.py's hygiene test;
    (b) the pipeline-stage and streaming queries — the ones that prove
    the north-rule invariant — come FIRST so even a future overflow
    cannot evict them; (c) closely-related per-doc scalar operators ride
    fused panels (text_cleaners, id_parsers, doc_stats) whose oracles are
    the original per-operator oracle blocks joined on doc_id, so every
    operator keeps its own verified columns."""
    return {
        # ---- pipeline stages (the north-rule invariant) — FIRST, always
        "extract_pipeline": (q_extract_pipeline, SQL_EXTRACT_PIPELINE),
        "split_name": (q_split_name, SQL_SPLIT_NAME),
        "strip_boilerplate": (q_strip_boilerplate, SQL_STRIP_BOILERPLATE),
        "media_meta": (q_media_meta, SQL_MEDIA_META),
        "frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
        # ---- streaming twins, drained availableNow and checked against
        # the IDENTICAL batch oracles (batch-stream equivalence under the
        # gate; the batch sessionization/hourly entries were retired —
        # same oracle, double coverage)
        "events_hourly_stream": (q_events_hourly_stream, SQL_EVENTS_HOURLY),
        "events_sessions_stream": (
            q_events_sessions_stream, SQL_EVENTS_SESSIONS,
        ),
        "events_dedup_stream": (
            q_events_dedup_stream, SQL_EVENTS_DEDUP_STREAM,
        ),
        # ---- joins / relational shapes over the driver tables
        "curp_state_join": (q_curp_state_join, _sql_curp_state_join()),
        "lineitem_pricing": (q_lineitem_pricing, SQL_LINEITEM_PRICING),
        "orders_by_segment": (q_orders_by_segment, SQL_ORDERS_BY_SEGMENT),
        # ---- reference extraction operators (native Catalyst)
        "normalize_lines": (q_normalize_lines, _ducked(SQL_NORMALIZE_LINES)),
        "text_cleaners": (q_text_cleaners, SQL_TEXT_CLEANERS),
        "classify_credential": (q_classify_credential, _ducked(SQL_CLASSIFY)),
        "id_parsers": (q_id_parsers, SQL_ID_PARSERS),
        "field_completions": (q_field_completions, SQL_COMPLETIONS),
        "regex_extractors": (q_regex_extractors, _ducked(SQL_REGEX_EXTRACTORS)),
        # ---- dedup family
        "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
        "dedup_exact_incremental": (
            q_dedup_exact_incremental, _sql_dedup_exact_incremental(),
        ),
        "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_NGRAM_JACCARD),
        "dedup_minhash_lsh": (q_dedup_minhash_lsh, _sql_minhash()),
        "dedup_incremental": (q_dedup_incremental, _sql_dedup_incremental()),
        "dup_passages": (q_dup_passages, _sql_dup_passages()),
        "dup_passages_incremental": (
            q_dup_passages_incremental, _sql_dup_passages_incremental(),
        ),
        "strip_dup_passages": (
            q_strip_dup_passages, _sql_strip_dup_passages(),
        ),
        "dedup_clusters": (q_dedup_clusters, _sql_dedup_clusters()),
        "dedup_clusters_incremental": (
            # the incremental composition must equal the ONE-SHOT closure
            # — the oracle is deliberately the same full-corpus CTE
            q_dedup_clusters_incremental, _sql_dedup_clusters(),
        ),
        "dedup_simhash_pairs": (q_dedup_simhash_pairs, _sql_simhash_pairs()),
        "dedup_simhash_incremental": (
            q_dedup_simhash_incremental, _sql_simhash_incremental(),
        ),
        "line_dedup": (q_line_dedup, _sql_line_dedup()),
        # ---- similarity / ANN family
        "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_TOPK),
        "ann_lsh_pairs": (q_ann_lsh_pairs, _sql_ann_lsh()),
        "ann_lsh_pairs_multi": (q_ann_lsh_pairs_multi, _sql_ann_lsh_multi()),
        "ann_incremental": (q_ann_incremental, _sql_ann_incremental()),
        "semantic_dedup": (q_semantic_dedup, _sql_semantic_dedup()),
        "ann_ivf_topk": (q_ann_ivf_topk, _sql_ann_ivf()),
        "ann_ivf_trained": (q_ann_ivf_trained, _sql_ann_ivf_trained()),
        "embed_hash": (q_embed_hash, _sql_embed_hash()),
        "text_ann_pairs": (q_text_ann_pairs, _sql_text_ann_pairs()),
        # ---- text stats / curation
        "doc_stats": (q_doc_stats, _sql_doc_stats()),
        "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
        "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
        "repetition_stats": (q_repetition_stats, _sql_repetition_stats()),
        "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
        "mixture_sample": (q_mixture_sample, _sql_mixture_sample()),
        "lm_score": (q_lm_score, _sql_lm_score()),
        "perplexity_buckets": (
            q_perplexity_buckets, _sql_perplexity_buckets(),
        ),
        "tfidf_topk": (q_tfidf_topk, _sql_tfidf_topk()),
        "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
        "curate_corpus": (q_curate_corpus, _sql_curate_corpus()),
    }
