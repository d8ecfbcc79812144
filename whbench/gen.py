"""Seeded input generators for the warehouse benchmark.

Every value is derived from ``xxhash64(seed, row id, salt)``: the same
seed gives bit-identical inputs on any partition layout, and the seed
is the only source of randomness (no ``F.rand()``).  The package under
test only ever receives the generated DataFrames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BANKS = ("Attijariwafa Bank", "Banque Populaire", "BMCE Bank", "CIH Bank",
         "Credit Agricole")
CITIES = ("Casablanca", "Rabat", "Marrakech", "Fes", "Tanger", "Agadir",
          "Oujda", "Meknes")
# French review snippets the lexicon sentiment and language detection
# fire on; every snippet passes the silver text-length filter
SNIPPETS = (
    "service excellent et accueil rapide je recommande",
    "tres bonne banque personnel aimable et professionnel",
    "attente trop longue service mauvais je deconseille",
    "personnel desagreable et guichet ferme sans explication",
    "agence correcte rien de special horaires classiques",
    "bon conseiller mais application mobile lente",
    "retrait rapide distributeur toujours disponible super",
    "frais eleves et reponse tardive tres decevant",
)
N_BRANCHES = 1810
DAY_S = 86_400
#: first review day of every generated corpus (2021-01-01 UTC)
EPOCH0 = 1_609_459_200
#: share of odd row ids that re-use their even neighbour's review_id
DUP_PER_MILLE_ODD = 20  # 2 % of odd ids = ~1 % of rows
LAYOUT_SEED = 0


def _h(seed: int, *parts) -> Column:
    return F.abs(F.xxhash64(F.lit(seed), *parts))


def _pick(opts, h: Column) -> Column:
    return F.element_at(F.array(*[F.lit(o) for o in opts]),
                        (F.pmod(h, F.lit(len(opts))) + 1).cast("int"))


def raw_reviews(spark: SparkSession, seed: int, first_id: int, n: int,
                first_day: int, n_days: int, revision: int = 0,
                ids: list[int] | None = None, parts: int = 4) -> DataFrame:
    """``n`` raw reviews at the ``schemas.RAW_REVIEWS`` grain with row
    ids ``[first_id, first_id + n)`` spread evenly over days
    ``[first_day, first_day + n_days)``; row ``i`` always lands on the
    same day and second, so a day's rows can be regenerated alone.

    About 1 % of rows duplicate a ``review_id``: an odd id may re-use
    its even neighbour's id, so duplicates never straddle a batch that
    starts at an even id.  The seed draws every value but those ids and
    the review times.  ``revision`` > 0 re-draws the rating, text
    and collection time of the same ids: the restated or corrected
    version of those reviews.  ``ids`` keeps only those row ids."""
    rid = F.col("id")
    h = _h(seed, rid)
    hr = _h(seed, rid, F.lit(revision))
    # which ids repeat and when each review was written do not depend on
    # the seed: they decide the min/max ranges snapshot-table pruning
    # works on, and a per-seed layout would make pruning luck, not the
    # program, move the read metrics between seeds
    hl = _h(LAYOUT_SEED, rid)
    dup = (F.pmod(rid, F.lit(2)) == 1) & (F.pmod(hl, F.lit(1000)) < DUP_PER_MILLE_ODD)
    review_id = F.when(dup, rid - 1).otherwise(rid)
    day = F.lit(first_day) + F.call_function(
        "div", (rid - F.lit(first_id)) * F.lit(n_days), F.lit(n))
    epoch = F.lit(EPOCH0) + day * F.lit(DAY_S) + F.pmod(hl, F.lit(DAY_S))
    bank = _pick(BANKS, F.call_function("div", h, F.lit(3)))
    city = _pick(CITIES, F.call_function("div", h, F.lit(7)))
    text = F.concat(_pick(SNIPPETS, F.call_function("div", hr, F.lit(13))),
                    F.lit(" ref "), rid.cast("string"))
    rows = spark.range(first_id, first_id + n, numPartitions=parts)
    if ids is not None:
        rows = rows.filter(rid.isin(ids))
    return rows.select(
        F.concat(F.lit("r"), review_id.cast("string")).alias("review_id"),
        F.concat(F.lit("place_"), F.pmod(h, F.lit(N_BRANCHES)).cast("string"))
        .alias("place_id"),
        bank.alias("bank_name"),
        F.concat(F.lit("Agence "), bank, F.lit(" "), city).alias("branch_name"),
        F.concat(F.lit("author_"), F.pmod(F.call_function("div", h, F.lit(5)),
                                          F.lit(500)).cast("string"))
        .alias("author_name"),
        F.lit(None).cast("string").alias("author_url"),
        F.lit("fr").alias("language"),
        F.lit(None).cast("string").alias("original_language"),
        F.lit(None).cast("string").alias("profile_photo_url"),
        (F.pmod(F.call_function("div", hr, F.lit(11)), F.lit(5)) + 1)
        .cast("int").alias("rating"),
        text.alias("text"),
        epoch.cast("long").alias("time"),
        F.lit(False).alias("translated"),
        F.lit("il y a 2 mois").alias("relative_time_description"),
        F.timestamp_seconds(epoch + F.lit(DAY_S) + F.lit(revision * 3600)
                            + F.pmod(hr, F.lit(3600))).alias("collected_at"),
    )


def day_bounds(day: int) -> tuple[int, int]:
    """Inclusive ``time`` range of one generated day."""
    lo = EPOCH0 + day * DAY_S
    return lo, lo + DAY_S - 1


def correction_ids(seed: int, day: int, first_id: int, n_ids: int,
                   n: int) -> list[int]:
    """``n`` distinct even row ids in ``[first_id, first_id + n_ids)``
    to correct on ``day``; even ids always survive dedup as their own
    ``review_id``, so every correction matches exactly one row."""
    import hashlib

    out: list[int] = []
    i = 0
    while len(out) < n:
        d = hashlib.blake2b(f"{seed}:{day}:{i}".encode(), digest_size=8)
        rid = first_id + 2 * (int.from_bytes(d.digest(), "big") % (n_ids // 2))
        if rid not in out:
            out.append(rid)
        i += 1
    return out


def zipf_docs(spark: SparkSession, seed: int, n_docs: int,
              exact_pct: int = 5, near_pct: int = 20, vocab: int = 30_000,
              doc_len: int = 30, parts: int = 4) -> DataFrame:
    """A ``(doc_id, lang, text)`` corpus with a natural Zipf vocabulary
    (token ranks drawn log-uniform over ``vocab``).  Documents come in
    pairs ``(2k, 2k+1)``; a seeded ``exact_pct`` % of pairs are exact
    duplicates, ``near_pct`` % share a body and differ in one unique
    token each (Jaccard ≈ 0.94), and the rest are unrelated."""
    doc = F.col("id")
    pair = F.call_function("div", doc, F.lit(2))
    kind = F.pmod(_h(seed, pair, F.lit(-1)), F.lit(100))
    shared = kind < F.lit(exact_pct + near_pct)
    body_seed = F.when(shared, pair).otherwise(doc + F.lit(1 << 40))

    def tok(j):
        u = (F.pmod(_h(seed, body_seed, j), F.lit(1_000_003)).cast("double")
             + F.lit(0.5)) / F.lit(1_000_003.0)
        rank = F.floor(F.pow(F.lit(float(vocab)), u)).cast("long")
        return F.concat(F.lit("t"), rank.cast("string"))

    body = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(doc_len - 1)), tok), " ")
    text = F.when(kind < F.lit(exact_pct), body).otherwise(
        F.concat(body, F.lit(" u"), doc.cast("string")))
    langs = ("en", "es", "fr", "zh", "de")
    return spark.range(0, n_docs, numPartitions=parts).select(
        doc.alias("doc_id"),
        _pick(langs, _h(seed, pair, F.lit(-2))).alias("lang"),
        text.alias("text"),
    )
