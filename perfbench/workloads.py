"""Seeded workload definitions: which items run, in which order.

An item is one call the closed-loop client makes: a registered query
written to the noop sink, or one pipeline call. The seed picks the
order of the items and, for ``sql_etl``, the pipeline configs;
the engine only ever receives the generated inputs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# The fixed query panel of each workload; the seed picks the order
# (sql_etl adds seeded pipeline calls, see pipeline_items). The run-time
# budget (about a minute per run on a loaded 4-core host, JVM start
# included) allows a handful of queries per workload, and a seed-drawn
# sample that small changed the work from run to run more than a code
# change would (measured: 47 % spread of wall_s over five seeds). Each
# panel takes one query per module. In sql_etl most picks are of about
# median cost in their module, with q_d_lateness_audit standing in for
# q_d_stream_pysink (12 s cold). llm_battery takes the cheapest query of
# each module (warm, sf0.01, caches cleared before each call), plus a
# second dedup query: q_e_dedup_apply and q_e_dup_timeline share the
# registered md5 caches, so the within-pass reuse the honest reset
# allows is exercised.
PANELS = {
    "sql_etl": (
        "q_b_intersect_except",
        "q_b_sessionize",
        "q_a_solar_time",
        "q_d_lateness_audit",
        "q_a_geohash",
        "q_c_struct",
    ),
    "llm_battery": (
        "q_e_embed_centroid",
        "q_e_dedup_apply",
        "q_e_dup_timeline",
        "q_e_shard_assign",
        "q_e_len_buckets",
        "q_e_stratified_sample",
        "q_e_exposure_share",
        "q_e_embed_gram",
        "q_e_multimodal",
        "q_e_span_dedup",
        "q_f_arrow_udf",
    ),
}

WORKLOADS = ("sql_etl", "llm_battery")

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@dataclass(frozen=True)
class Item:
    kind: str  # "query" | "scene" | "corpus"
    name: str  # query name, or a label unique within the run
    module: str = ""  # owning module for queries, "pipeline" otherwise
    config: dict = field(default_factory=dict, hash=False, compare=False)


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def workload_items(workload: str, queries: dict, seed: int) -> list[Item]:
    """The workload's panel plus, for sql_etl, seeded pipeline calls,
    in a seeded order."""
    rng = random.Random(seed)
    items = [Item("query", n, module_of(queries[n])) for n in PANELS[workload]]
    if workload == "sql_etl":
        items += pipeline_items(rng, n_scene=2, n_corpus=1)
    rng.shuffle(items)
    return items


# The repo's reference invocations of the two CLI pipelines (README.md,
# "Run"): a 15-day scene window with a quality cap of 120 and no
# event-type filter, and the corpus clean with min_tokens 5 over the
# CorpusCleanConfig defaults.
SCENE_REFERENCE = {
    "date_start": "2024-01-05 00:00:00",
    "date_end": "2024-01-20 00:00:00",
    "max_quality": 120.0,
}
CORPUS_REFERENCE = {"min_tokens": 5}
WINDOW_DAYS = 15


def _shifted(day_shift: int) -> tuple[str, str]:
    """The reference window moved day_shift days later."""
    from datetime import datetime, timedelta

    fmt = "%Y-%m-%d %H:%M:%S"
    start = datetime.strptime(SCENE_REFERENCE["date_start"], fmt) + timedelta(days=day_shift)
    return start.strftime(fmt), (start + timedelta(days=WINDOW_DAYS)).strftime(fmt)


def pipeline_items(rng: random.Random, n_scene: int, n_corpus: int) -> list[Item]:
    """Scene-manifest and corpus-clean calls centred on the reference
    invocations.

    Each scene call runs the reference config over its 15-day window
    moved a seeded 0-5 days later (the sf0.01 events span January 2024).
    Half of the calls filter on a seeded three of the five event types,
    and half pass a done-log: the scenes the reference call itself
    selects, as if it had run the day before, so those calls start at
    least a day later and fetch only what is new. Which calls filter
    and which have a done-log is seeded. Each corpus call uses the
    reference config or the CorpusCleanConfig default min_tokens (10).
    """
    filtered = [i % 2 == 0 for i in range(n_scene)]
    with_log = [i % 2 == 1 for i in range(n_scene)]
    rng.shuffle(filtered)
    rng.shuffle(with_log)
    items = []
    for i in range(n_scene):
        start, end = _shifted(rng.randint(1 if with_log[i] else 0, 5))
        cfg = {
            **SCENE_REFERENCE,
            "date_start": start,
            "date_end": end,
            "event_types": sorted(rng.sample(EVENT_TYPES, 3)) if filtered[i] else [],
            "best_per_cell": True,
            "done_log": with_log[i],
        }
        items.append(Item("scene", f"scene_{i}", "pipeline", cfg))
    for i in range(n_corpus):
        cfg = {**CORPUS_REFERENCE, "min_tokens": rng.choice((5, 10))}
        items.append(Item("corpus", f"corpus_{i}", "pipeline", cfg))
    return items


def reference_selection(events) -> list[int]:
    """event_ids the reference scene call selects from a pyarrow table
    of events: inside the window, value at or under the cap, and the
    best (lowest value, then lowest id) scene per (user_id, day). This
    is the done-log the scene calls that take one are given; it is
    computed here, independently of the engine under test."""
    df = events.select(["event_id", "user_id", "ts", "value"]).to_pandas()
    start, end = (SCENE_REFERENCE[k] for k in ("date_start", "date_end"))
    df = df[(df.ts >= start) & (df.ts < end) & (df.value <= SCENE_REFERENCE["max_quality"])]
    df = df.assign(day=df.ts.dt.floor("D")).sort_values(["user_id", "day", "value", "event_id"])
    return sorted(df.drop_duplicates(["user_id", "day"]).event_id.tolist())
