"""Ring A parity: the netflix_titles clean, re-expressed natively.

Reproduces the full semantics of reference etl/transform.py:27-200 (the
engine's behavioral contract) with one structural change: the reference's
row-at-a-time Python UDF ``get_europe_country`` (etl/transform.py:73-89)
is rewritten as higher-order array functions over a map literal.  That
keeps the whole plan inside WholeStageCodegen (no JVM<->Python pickling
per row) and lets the later filters (etl/transform.py:92,102,200) push
past it -- the single biggest perf fix at scale (SURVEY.md section 4).

Semantics preserved exactly, including order sensitivity: the UDF returns
the standardized name of the FIRST country (in string order, not map
order) that appears in the Europe map, else NULL.

The clean is SQL text, built once at import from the constant tables
below, not a ``Column`` tree: every ``functions`` call and literal is a
py4j round trip, and the Column-API version of this clean took 2,000 to
2,400 of them and 0.54-0.83 s to build (warm, best of four, Spark 4.1.2
on a 4-core machine) against about 30 and 0.05-0.06 s for the same plan
as five ``where``/``selectExpr`` calls.  Rows and schema were identical
on the shipped fixture and on three 20,000-row resamples of it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Europe standardization map (reference etl/transform.py:41-71).
EUROPE_COUNTRIES_STD: dict[str, str] = {
    "United Kingdom": "United Kingdom",
    "England": "United Kingdom",
    "Scotland": "United Kingdom",
    "Wales": "United Kingdom",
    "Ireland": "Ireland",
    "Spain": "Spain",
    "France": "France",
    "Germany": "Germany",
    "West Germany": "Germany",
    "Italy": "Italy",
    "Portugal": "Portugal",
    "Netherlands": "Netherlands",
    "Belgium": "Belgium",
    "Sweden": "Sweden",
    "Norway": "Norway",
    "Denmark": "Denmark",
    "Finland": "Finland",
    "Poland": "Poland",
    "Czech Republic": "Czech Republic",
    "Austria": "Austria",
    "Switzerland": "Switzerland",
    "Luxembourg": "Luxembourg",
    "Russia": "Russia",
    "Ukraine": "Ukraine",
    "Belarus": "Belarus",
    "Turkey": "Turkey",
    "Greece": "Greece",
    "Cyprus": "Cyprus",
    "Iceland": "Iceland",
}

# Rating whitelist (reference etl/transform.py:108-112).
VALID_RATINGS: list[str] = [
    "TV-G", "TV-Y", "TV-Y7", "TV-Y7-FV",
    "TV-PG", "TV-14", "TV-MA",
    "G", "PG", "PG-13", "R", "NC-17", "NR",
]

# rating -> Spanish meaning (reference etl/transform.py:121-137).
RATING_MEANING: dict[str, str] = {
    "TV-G": "Todo público",
    "TV-Y": "Niños pequeños",
    "TV-Y7": "Mayores de 7 años",
    "TV-Y7-FV": "7+ con violencia fantasiosa",
    "TV-PG": "Guía parental recomendada",
    "TV-14": "Mayores de 14 años",
    "TV-MA": "Solo adultos",
    "G": "Todo público",
    "PG": "Guía parental",
    "PG-13": "Mayores de 13 años",
    "R": "Restringido +17",
    "NC-17": "Solo adultos (estricto)",
    "NR": "No clasificado",
}

# Ordered LIKE-pattern -> group chain (reference etl/transform.py:149-164;
# order matters: e.g. "Kids' TV Drama" must resolve to Kids, not Drama).
GENRE_GROUPS: list[tuple[str, str]] = [
    ("%Kids%", "Kids"),
    ("%Anime%", "Anime"),
    ("%Crime%", "Crime"),
    ("%Horror%", "Crime"),
    ("%Action%", "Crime"),
    ("%Drama%", "Drama"),
    ("%Romantic%", "Drama"),
    ("%Classic%", "Drama"),
    ("%Comedy%", "Comedy"),
    ("%Stand-Up%", "Comedy"),
    ("%Reality%", "Documental"),
    ("%Docu%", "Documental"),
]


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_map(d: dict[str, str]) -> str:
    pairs = ", ".join(f"{_sql_str(k)}, {_sql_str(v)}" for k, v in d.items())
    return f"map({pairs})"


_EU_MAP = _sql_map(EUROPE_COUNTRIES_STD)


def _europe_sql(country: str) -> str:
    """SQL text of the Europe lookup over the string expression ``country``.

    strip quotes -> split on ',' -> trim parts -> drop empties -> first
    part present in the map -> standardized name; NULL when none match or
    input is NULL/empty.  ``filter`` keeps element order, so ``get(..., 0)``
    is the first match in string order, as in the reference UDF.
    """
    parts = (
        f"filter(transform(split(regexp_replace({country}, '\"', ''), ','), "
        "p -> trim(p)), p -> p != '')"
    )
    return (
        f"try_element_at({_EU_MAP}, get(filter({parts}, "
        f"p -> try_element_at({_EU_MAP}, p) IS NOT NULL), 0))"
    )


def europe_country(country: Column) -> Column:
    """Native rewrite of the reference Python UDF (etl/transform.py:73-83):
    the clean's own SQL text, bound to ``country`` as a SQL lambda."""
    lookup = F.expr(f"c -> {_europe_sql('c')}")
    return F.get(F.call_function("transform", F.array(country), lookup), 0)


# Steps 3-7 (ref :27-112): TV Shows only -- directly on the scan so
# Catalyst pushes it into the source -- then the first listed genre, the
# standardized EU country, the digits of the year and the whitelisted
# rating.  Rows with no EU country or no year digits are dropped.
_TV_SHOWS = "type = 'TV Show'"
_STANDARDIZED = (
    "show_id",
    "title",
    "split(listed_in, ',')[0] AS main_genre",
    f"{_europe_sql('country')} AS country",
    "regexp_replace(release_year, '[^0-9]', '') AS release_year",
    f"CASE WHEN rating IN ({', '.join(map(_sql_str, VALID_RATINGS))}) "
    "THEN rating ELSE 'UNKNOWN' END AS rating",
)
_KEPT = "country IS NOT NULL AND release_year != ''"

# Steps 6-10 (ref :97-200) in the reference's 8-column output order.
# try_cast mirrors the reference's non-ANSI cast-to-null on overflow.
# The reference's 13-branch rating when-chain is one map lookup with a
# default.  genre_group is the ordered LIKE chain over the unstripped
# main_genre (a select reads its input's columns, not its own aliases);
# order matters: "Kids' TV Drama" must resolve to Kids, not Drama.
# Titles lose quotes and have ',' -> ' -' purely for output parity with
# the reference's CSV export (ref :176-177).  The reference also strips
# quotes and spaces from country and rating_meaning (ref :171-183); here
# both come from the constant maps, whose values have none.
_CLEANED = (
    "show_id",
    "trim(regexp_replace(regexp_replace(title, '\"', ''), ',', ' -')) AS title",
    "country",
    "try_cast(release_year AS INT) AS release_year",
    "rating",
    f"coalesce(try_element_at({_sql_map(RATING_MEANING)}, rating), 'Desconocido') "
    "AS rating_meaning",
    "trim(regexp_replace(main_genre, '\"', '')) AS main_genre",
    "CASE "
    + " ".join(
        f"WHEN main_genre LIKE {_sql_str(pat)} THEN {_sql_str(grp)}"
        for pat, grp in GENRE_GROUPS
    )
    + " ELSE 'Other' END AS genre_group",
)
# Step 10's garbage guard (ref :200).
_GUARD = "rating_meaning NOT IN ('TV-MA', 'TV-G', '2020')"


def clean_netflix_titles(df: DataFrame) -> DataFrame:
    """Full clean: reference etl/transform.py:27-200, one declarative plan.

    Output schema = schemas.NETFLIX_CLEAN (8 columns,
    reference etl/transform.py:188-197).
    """
    return (
        df.where(_TV_SHOWS)
        .selectExpr(*_STANDARDIZED)
        .where(_KEPT)
        .selectExpr(*_CLEANED)
        .where(_GUARD)
    )


def genre_country_report(clean: DataFrame) -> DataFrame:
    """The aggregation the pipeline exists to feed: the reference ships
    its output to Athena/QuickSight for exactly this kind of dashboard
    rollup (reference README.md:184-248).  Native here."""
    return (
        clean.groupBy("genre_group", "country")
        .agg(F.count(F.lit(1)).alias("n_titles"))
        .orderBy(F.col("n_titles").desc(), "genre_group", "country")
    )
