"""Seeded benchmark inputs.

``persons`` is the FIXTURES.md F1 shape (``unique_id first_name surname dob
city email cluster``): ``n // 4`` entities with 1..7 records each (so about
``n`` rows), typos, nulls and a London-heavy city skew. It is built from pure
Spark expressions (hash-based pseudo-randomness), so the same ``(n, seed)``
gives the same rows on any core count. ``seed=0`` uses the hash seeds of
``tools/bench_1m.py``; the copy lives here so edits to ``tools/`` cannot
change the benchmark's inputs.

``online_requests`` makes the probe batches of the online workload: half of
each batch are corrupted duplicates of base entities under fresh ids, half
are new entities.
"""

from __future__ import annotations

import os
import random

FIRST = ["julia", "oliver", "grace", "amir", "zoe", "noah", "theo", "freya",
         "arthur", "isla", "leo", "maya", "rosa", "ethan", "lena", "hugo"]
SUR = ["taylor", "smith", "jones", "khan", "li", "brown", "davies", "evans",
       "wilson", "thomas", "clarke", "walker", "wright", "green", "hall", "wood"]
CITY = ["london", "leeds", "manchester", "bristol", "york", "bath", "derby"]

COLUMNS = ["unique_id", "first_name", "surname", "dob", "city", "email", "cluster"]

# unique_id = entity * 8 + d with d < 7, so ids at or above this offset
# never collide with a base record of any size used here
NEW_ID_OFFSET = 10**12


def entity_count(n_rows: int) -> int:
    return max(1, n_rows // 4)


def entity_of(unique_id: int) -> int:
    """True entity (``cluster``) of a ``persons`` record."""
    return unique_id // 8


def persons(spark, n_rows: int, seed: int):
    """The F1 frame (lazy). Row order and content depend only on the args."""
    from pyspark.sql import functions as F

    n_entities = entity_count(n_rows)
    off = 100 * seed

    def h(k: int, m: int):
        return F.pmod(F.xxhash64(F.col("entity"), F.lit(k + off)), F.lit(m))

    def hu(k: int, m: int):
        return F.pmod(F.xxhash64(F.col("unique_id"), F.lit(k + off)), F.lit(m))

    first_arr = F.array(*[F.lit(x) for x in FIRST])
    sur_arr = F.array(*[F.lit(x) for x in SUR])
    city_arr = F.array(*[F.lit(x) for x in CITY])

    ent = spark.range(n_entities).select(F.col("id").alias("entity"))
    rec = (
        ent.withColumn("n_dupes", (h(1, 7) + 1).cast("int"))
        .withColumn("d", F.explode(F.sequence(F.lit(0), F.col("n_dupes") - 1)))
        .withColumn("unique_id", F.col("entity") * 8 + F.col("d"))
    )
    base_first = F.element_at(first_arr, (h(2, 16) + 1).cast("int"))
    base_sur = F.element_at(sur_arr, (h(3, 16) + 1).cast("int"))
    city_ix = F.least(F.floor(F.sqrt(h(4, 49).cast("double"))).cast("int"), F.lit(6))
    base_city = F.element_at(city_arr, city_ix + 1)
    dob_date = F.date_add(F.lit("1950-01-01").cast("date"), h(5, 21000).cast("int"))

    typo = hu(11, 10)
    first = F.when(
        (F.col("d") > 0) & (typo == 0),
        F.concat(
            F.substring(base_first, 2, 1),
            F.substring(base_first, 1, 1),
            F.substring(base_first, 3, 20),
        ),
    ).when((F.col("d") > 0) & (typo == 1), F.concat(base_first, F.lit(" "))).otherwise(base_first)
    first = F.when(hu(12, 100) < 8, F.lit(None)).otherwise(first)
    sur = F.when(hu(13, 100) < 10, F.lit(None)).otherwise(base_sur)
    dob = F.when(
        (F.col("d") > 0) & (hu(14, 20) == 0), F.date_add(dob_date, 1)
    ).otherwise(dob_date).cast("string")
    city = F.when((F.col("d") > 0) & (hu(15, 20) == 0), F.lit(None)).otherwise(base_city)
    email = F.concat(base_first, F.lit("."), base_sur, F.col("entity").cast("string"),
                     F.lit("@mail.com"))
    email = F.when(hu(16, 100) < 5, F.lit(None)).otherwise(email)

    return rec.select(
        "unique_id",
        first.alias("first_name"),
        sur.alias("surname"),
        dob.alias("dob"),
        city.alias("city"),
        email.alias("email"),
        F.col("entity").alias("cluster"),
    )


def persons_parquet(spark, n_rows: int, seed: int, cache_dir: str) -> str:
    """Path of the cached parquet for ``(n_rows, seed)``, written on first use."""
    path = os.path.join(cache_dir, f"persons_n{n_rows}_s{seed}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        persons(spark, n_rows, seed).repartition(8, "unique_id").write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _corrupt(rec: dict, rng: random.Random) -> dict:
    out = dict(rec)
    roll = rng.randrange(4)
    fn = out["first_name"]
    if roll == 0 and fn and len(fn) > 2:
        out["first_name"] = fn[1] + fn[0] + fn[2:]
    elif roll == 1 and fn:
        out["first_name"] = fn + " "
    elif roll == 2:
        out["city"] = None
    return out


def online_requests(pool: list[dict], n_base_entities: int, seed: int,
                    request_ix: int, size: int) -> list[dict]:
    """One probe batch. ``pool`` holds base records to duplicate; their
    ``cluster`` is kept as the truth. New entities get cluster ids past the
    base, so they have no true match."""
    rng = random.Random(seed * 1_000_003 + request_ix)
    out = []
    for k in range(size):
        uid = NEW_ID_OFFSET + request_ix * size + k
        if k % 2 == 0:
            rec = _corrupt(rng.choice(pool), rng)
        else:
            ent = n_base_entities + request_ix * size + k
            first, sur = rng.choice(FIRST), rng.choice(SUR)
            rec = {
                "first_name": first,
                "surname": sur,
                "dob": f"{rng.randrange(1950, 2007)}-{rng.randrange(1, 13):02d}-"
                       f"{rng.randrange(1, 29):02d}",
                "city": rng.choice(CITY),
                "email": f"{first}.{sur}{ent}@mail.com",
                "cluster": ent,
            }
        rec["unique_id"] = uid
        out.append({c: rec[c] for c in COLUMNS})
    return out
