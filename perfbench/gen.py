"""Seeded input generators for the benchmark.

Same seed -> byte-identical files. Each generator writes its inputs plus
an expected-output manifest (``manifest.json``) into one directory.

* ``ingest``: chapters.jsonl, one raw page file per adapter
  (``raw_<adapter>.jsonl``, the shapes of ``fixtures/raw_*.jsonl``),
  planted error rows of every kind ``Normalize`` emits, and the 503 plan.
* ``query``: a row-permuted copy of every table of an sf directory, one
  row group per file as in the source.

Usage: python3 perfbench/gen.py ingest|query SEED OUT_DIR [--sf-dir DIR]
"""
import json
import os
import random
import sys

ADAPTERS = ("meetup", "facebook", "eventbrite")

# Ingest sizing: chapters, total events and the share of planted errors.
# The layout is fixed: the position of a chapter in chapters.jsonl (= its
# RestSource partition) fixes its adapter, its Zipf page size and whether
# it is unknown or flaky. The seed picks names, contents and planted error
# rows. So a seed cannot move a big page or the 503's backoff to the end
# of a stage, which would change the op's time, not the work.
N_CHAPTERS = 90
UNKNOWN_AT = (45,)        # ~1% of chapters name an adapter nobody serves
FLAKY_AT = (20,)          # ~1% of chapters answer 503 once per op
EVENTS = 24000
ZIPF_S = 1.1
ERR_SHARE = 0.005         # per planted error kind, of that adapter's rows
N_SAMPLE = 20             # per adapter: rows whose canonical fields are recomputed

# Eventbrite zones: DST-observing ones on both hemispheres plus fixed ones.
ZONES = ("America/New_York", "Europe/Rome", "Europe/London",
         "America/Los_Angeles", "Australia/Sydney", "Asia/Tokyo",
         "Asia/Kolkata", "America/Sao_Paulo")
# Facebook numeric offsets, both signs, whole and half hours.
FB_OFFSETS = ("-0400", "+0200", "+0000", "-0930", "+0530", "+1000",
              "-03:00", "+01:00", "+0545")

WORDS = ("paper", "consensus", "lambda", "types", "proof", "graph", "cache",
         "lattice", "queue", "actor", "stream", "merkle", "raft", "paxos",
         "compiler", "kernel", "vector", "index", "shard", "clock")


def _dump(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=False)


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def zipf_sizes(total, n, s=ZIPF_S):
    """`n` page sizes summing to `total`, Zipf(s) by rank, each >= 1."""
    w = [1.0 / (r ** s) for r in range(1, n + 1)]
    tw = sum(w)
    raw = [total * x / tw for x in w]
    sizes = [max(1, int(x)) for x in raw]
    rest = total - sum(sizes)
    order = sorted(range(n), key=lambda i: raw[i] - int(raw[i]), reverse=True)
    i = 0
    while rest > 0:
        sizes[order[i % n]] += 1
        rest -= 1
        i += 1
    while rest < 0:  # only if the floor of 1 overshot
        j = max(range(n), key=lambda k: sizes[k])
        sizes[j] -= 1
        rest += 1
    return sizes


def _title(rng):
    return " ".join(rng.choice(WORDS).capitalize() for _ in range(rng.randint(2, 5)))


def _markdown(rng):
    """A facebook description using every construct renderMarkdown knows."""
    blocks = []
    for _ in range(rng.randint(2, 5)):
        kind = rng.randrange(5)
        if kind == 0:
            blocks.append("#" * rng.randint(1, 3) + " " + _title(rng))
        elif kind == 1:
            blocks.append("\n".join("- " + rng.choice(WORDS)
                                    for _ in range(rng.randint(2, 4))))
        elif kind == 2:
            blocks.append("\n".join(f"{i + 1}. " + rng.choice(WORDS)
                                    for i in range(rng.randint(2, 4))))
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 30))]
            words[0] = "**" + words[0] + "**"
            words[-1] = "*" + words[-1] + "*"
            words[len(words) // 2] = "`" + words[len(words) // 2] + "`"
            words.append(f"[{rng.choice(WORDS)}](https://example.org/{rng.randrange(10**6)})")
            blocks.append(" ".join(words) + " & <more>")
    return "\n\n".join(blocks)


def _local_time(rng):
    """A local wall-clock time outside every DST gap/overlap (08:00-21:59)."""
    return "%04d-%02d-%02dT%02d:%02d:00" % (
        rng.randint(2015, 2024), rng.randint(1, 12), rng.randint(1, 28),
        rng.randint(8, 21), rng.choice((0, 15, 30, 45)))


def _meetup(rng, chapter, i, with_id):
    ev = {"chapter": chapter}
    eid = f"{chapter}-m{i}"
    if with_id:
        ev["id"] = eid
    ev.update({
        "link": f"http://www.meetup.com/pwl-{chapter}/events/{eid}/",
        "time": 1420070400000 + rng.randrange(10 ** 11),
        "utc_offset": rng.choice((-18000000, -14400000, 0, 3600000, 19800000)),
        "name": _title(rng),
        "description": " ".join(rng.choice(WORDS) for _ in range(12)),
    })
    if rng.random() < 0.8:
        ev["venue"] = {"name": _title(rng), "address_1": f"{rng.randrange(999)} Main St",
                       "country": "us", "city": rng.choice(WORDS).capitalize(),
                       "zip": "%05d" % rng.randrange(10 ** 5),
                       "lon": round(rng.uniform(-180, 180), 4),
                       "lat": round(rng.uniform(-90, 90), 4)}
    n_photos = rng.randrange(4)
    if n_photos:
        ev["photo_album"] = {"photo_sample": [
            {"photo_link": f"https://photos.example/{eid}/{k}.jpg"}
            for k in range(n_photos)]}
    return ev


def _facebook(rng, chapter, i, with_id, bad_time):
    ev = {"chapter": chapter}
    if with_id:
        ev["id"] = f"{chapter}-f{i}"
    ev["start_time"] = ("whenever" if bad_time
                        else _local_time(rng) + rng.choice(FB_OFFSETS))
    ev["name"] = _title(rng)
    ev["description"] = _markdown(rng)
    if rng.random() < 0.7:
        ev["place"] = {"name": _title(rng), "location": {
            "street": f"{rng.randrange(99)} Strasse", "city": "Berlin",
            "country": "Germany", "zip": "%05d" % rng.randrange(10 ** 5),
            "longitude": round(rng.uniform(-180, 180), 4),
            "latitude": round(rng.uniform(-90, 90), 4)}}
    return ev


def _eventbrite(rng, chapter, i, no_tz, bad_local):
    local = "not-a-time" if bad_local else _local_time(rng)
    start = {"local": local}
    if not no_tz:
        start["timezone"] = rng.choice(ZONES)
    eid = f"{chapter}-e{i}"
    ev = {"chapter": chapter, "id": eid,
          "url": f"https://www.eventbrite.com/e/{eid}",
          "name": {"text": _title(rng), "html": "<b>" + _title(rng) + "</b>"},
          "description": {"text": "plain", "html": "<p>" + _title(rng) + "</p>"},
          "start": start}
    if rng.random() < 0.7:
        ev["venue"] = {"name": _title(rng),
                       "longitude": str(round(rng.uniform(-180, 180), 4)),
                       "latitude": str(round(rng.uniform(-90, 90), 4)),
                       "address": {"address_1": "Via Roma 1", "city": "Roma",
                                   "postal_code": "00100", "country": "IT"}}
    return ev


def _layout():
    """[(adapter or None for unknown, Zipf rank within its adapter)] by
    position; the same for every seed."""
    known = [k for k in range(N_CHAPTERS) if k not in UNKNOWN_AT]
    ranks = {a: list(range(len(known[j::3]))) for j, a in enumerate(ADAPTERS)}
    fixed = random.Random("ingest-layout")
    for a in ADAPTERS:
        fixed.shuffle(ranks[a])
    layout = [(None, 0)] * N_CHAPTERS
    for j, a in enumerate(ADAPTERS):
        for k, r in zip(known[j::3], ranks[a]):
            layout[k] = (a, r)
    return layout


def gen_ingest(seed, out, events=EVENTS):
    rng = random.Random(f"ingest:{seed}")
    os.makedirs(out, exist_ok=True)
    layout = _layout()
    ids = rng.sample(range(10000), N_CHAPTERS)
    names = [f"ch{i:04d}" for i in ids]
    chapters = []
    by_adapter = {a: [] for a in ADAPTERS}   # (rank, chapter)
    for k, (a, rank) in enumerate(layout):
        c = names[k]
        if a is None:
            chapters.append({"chapter": c, "title": c.upper(),
                             "adapter": rng.choice(("myspace", "friendster")),
                             "api_id": f"pwl-{c}"})
            continue
        row = {"chapter": c, "title": c.upper(), "adapter": a, "api_id": f"pwl-{c}"}
        if a == "eventbrite":
            row["organization"] = f"ORG-{c}"
        chapters.append(row)
        by_adapter[a].append((rank, c))
    _write_lines(os.path.join(out, "chapters.jsonl"), [_dump(r) for r in chapters])

    per_adapter = events // 3
    ok_rows = {}
    errors = {"missing_id": 0, "bad_start_time": 0, "bad_start_local": 0,
              "missing_timezone": 0, "unknown_adapter": len(UNKNOWN_AT)}
    samples = []
    for a in ADAPTERS:
        cs = [c for _, c in sorted(by_adapter[a])]   # by Zipf rank
        sizes = zipf_sizes(per_adapter, len(cs))
        n_err = max(1, int(per_adapter * ERR_SHARE))
        # planted error rows: distinct positions over the adapter's rows,
        # n_err per error kind this adapter can produce
        kinds = {"meetup": ("missing_id",),
                 "facebook": ("missing_id", "bad_start_time"),
                 "eventbrite": ("missing_timezone", "bad_start_local")}[a]
        pos = rng.sample(range(per_adapter), n_err * len(kinds))
        planted = {p: kinds[j // n_err] for j, p in enumerate(pos)}
        sample_pos = set(rng.sample(sorted(set(range(per_adapter)) - set(pos)), N_SAMPLE))
        lines, g = [], 0
        for c, size in zip(cs, sizes):
            ok_rows.setdefault(c, 0)
            for i in range(size):
                kind = planted.get(g)
                if a == "meetup":
                    ev = _meetup(rng, c, i, with_id=kind is None)
                elif a == "facebook":
                    ev = _facebook(rng, c, i, with_id=kind != "missing_id",
                                   bad_time=kind == "bad_start_time")
                else:
                    ev = _eventbrite(rng, c, i, no_tz=kind == "missing_timezone",
                                     bad_local=kind == "bad_start_local")
                if kind is None:
                    ok_rows[c] += 1
                else:
                    errors[kind] += 1
                if g in sample_pos:
                    samples.append({"adapter": a, "raw": ev})
                lines.append(_dump(ev))
                g += 1
        _write_lines(os.path.join(out, f"raw_{a}.jsonl"), lines)

    flaky = sorted(names[k] for k in FLAKY_AT)
    manifest = {
        "workload": "ingest", "seed": seed,
        "chapters": N_CHAPTERS, "events": per_adapter * 3,
        "ok_rows": sum(ok_rows.values()),
        "error_rows": sum(errors.values()),
        "ok_rows_per_chapter": {c: n for c, n in sorted(ok_rows.items()) if n},
        "error_rows_per_kind": errors,
        "flaky_chapters": flaky,
        "sample": samples,
    }
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    return manifest


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def gen_query(seed, out, sf_dir):
    """Row-permute every table of `sf_dir` into `out`, one row group per
    file, same compression and schema metadata as the source."""
    import numpy as np
    import pyarrow.parquet as pq
    os.makedirs(out, exist_ok=True)
    tables = {}
    for k, name in enumerate(TABLES):
        src = os.path.join(sf_dir, f"{name}.parquet")
        t = pq.read_table(src)
        perm = np.random.Generator(np.random.PCG64([seed, k])).permutation(t.num_rows)
        pq.write_table(t.take(perm), os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
        tables[name] = {"rows": t.num_rows, "first_rows": perm[:3].tolist()}
    manifest = {"workload": "query", "seed": seed, "sf_dir": sf_dir, "tables": tables}
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    return manifest


def main(argv):
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    kind, seed, out = argv[0], int(argv[1]), argv[2]
    sf_dir = argv[argv.index("--sf-dir") + 1] if "--sf-dir" in argv else None
    if kind == "ingest":
        gen_ingest(seed, out)
    elif kind == "query":
        gen_query(seed, out, sf_dir)
    else:
        print(f"unknown generator {kind}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
