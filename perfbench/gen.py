"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and writes plain-text files
whose bytes depend only on that seed and on the fixed sizes below, so a
faster build receives exactly the same inputs. Shapes (vertex and edge
counts, chain depth, vector counts, events per file) never depend on the
seed; only labels, weights and coordinates do. That keeps the amount of
work per operation the same from seed to seed.
"""

import bisect
import itertools
import os
import random

# graph-analytics: round-bound layered graph (CHAINS vertices per layer,
# LAYERS layers) and data-bound power-law graph
CHAINS = 24
LAYERS = 4
WARM_LAYERS = 2
WARM_POWER_EDGES = 5_000
POWER_VERTICES = 20_000
POWER_EDGES = 50_000
POWER_EXPONENT = 0.8
LOUVAIN_ROUNDS = 1

# index-churn: clustered 64-d vectors, held-out query batches, and the op cycle
DIM = 64
CLUSTERS = 16
LATENT = 4
BASE_VECTORS = 1000
QUERY_BATCH = 20
APPEND_BATCH = 40
DELETE_BATCH = 20
CYCLES = 6
CYCLE = ("search", "append", "search", "delete", "search", "maintain")

# stream-ingest: Zipf-skewed users, bounded disorder, one file per landing slot
USERS = 2_000
ZIPF_S = 1.1
EVENTS_PER_FILE = 400
FILES = 100
FILE_SPAN_US = 5 * 60 * 1_000_000          # event time covered by one file
MAX_DISORDER_US = 45 * 60 * 1_000_000      # < the 2 h watermark delay
LATE_SHARE = 0.1
EVENT_T0_US = 1_700_000_000_000_000
EVENT_TYPES = ("view", "click", "purchase")
FILE_INTERVAL_MS = 100                     # one file lands every interval


def coloring_priority(v):
    """The priority order greedy coloring schedules by (Analytics contract)."""
    return (v * 1103515245 + 12345) % 2147483647


def round_graph(seed, layers=LAYERS):
    """Layered graph whose every edge joins layer i to layer i + 1.

    Ids are drawn from the seed, then ranked by coloring priority and dealt
    into layers in rank order, so priority rises along every edge: greedy
    coloring, converged PageRank and SSSP each need exactly `layers` rounds.
    Returns (edges as (src, dst, w), sssp_start).
    """
    rng = random.Random(seed)
    ids = sorted(rng.sample(range(1, 20 * CHAINS * layers), CHAINS * layers),
                 key=lambda v: (coloring_priority(v), v))
    at = lambda layer, chain: ids[layer * CHAINS + chain]
    edges = []
    for layer in range(layers - 1):
        for c in range(CHAINS):
            targets = sorted({c, (c + 1 + layer % 3) % CHAINS, (c * 5 + layer + 2) % CHAINS})
            for t in targets:
                edges.append((at(layer, c), at(layer + 1, t), rng.randint(1, 9)))
    return edges, at(0, 0)


def power_graph(seed):
    """Chung-Lu directed graph with rank-power-law expected degrees.

    Returns (edges as (src, dst), bfs_start) where bfs_start is the vertex
    of highest expected degree.
    """
    rng = random.Random(seed)
    ids = list(range(POWER_VERTICES))
    rng.shuffle(ids)
    cum = list(itertools.accumulate((i + 1) ** -POWER_EXPONENT for i in range(POWER_VERTICES)))
    total = cum[-1]
    pick = lambda: ids[bisect.bisect_left(cum, rng.random() * total)]
    edges = []
    while len(edges) < POWER_EDGES:
        s, d = pick(), pick()
        if s != d:
            edges.append((s, d))
    return edges, ids[0]


def _vector(rng, cluster):
    """A point of `cluster` = (center, basis): the center plus a LATENT-dim
    offset along the cluster's own directions plus small isotropic noise,
    so nearest neighbours are well defined inside a cluster."""
    center, basis = cluster
    z = [rng.gauss(0.0, 1.0) for _ in basis]
    return [c + sum(zj * b[d] for zj, b in zip(z, basis)) + 0.05 * rng.gauss(0.0, 1.0)
            for d, c in enumerate(center)]


def index_inputs(seed):
    """Base corpus, query batches, append batches and the op sequence.

    The sequence repeats CYCLE; deletes name ids that are live at that
    point of the sequence (base or appended, never deleted before).
    Queries carry negative ids so they are external to the corpus.
    """
    rng = random.Random(seed)
    clusters = [([rng.gauss(0.0, 1.0) for _ in range(DIM)],
                 [[rng.gauss(0.0, 1.0) / 4 for _ in range(DIM)] for _ in range(LATENT)])
                for _ in range(CLUSTERS)]
    point = lambda: _vector(rng, clusters[rng.randrange(CLUSTERS)])
    # ids follow cluster order, as ids in insertion order follow a
    # corpus's sources; within a cluster the order is random
    members = sorted((rng.randrange(CLUSTERS), rng.random()) for _ in range(BASE_VECTORS))
    base = [(i, _vector(rng, clusters[c])) for i, (c, _) in enumerate(members)]
    live = [i for i, _ in base]
    next_id = BASE_VECTORS
    queries, appends, ops = [], [], []
    for _ in range(CYCLES):
        for kind in CYCLE:
            if kind == "search":
                b = len(queries)
                queries.append([(-1 - b * QUERY_BATCH - j, point())
                                for j in range(QUERY_BATCH)])
                ops.append(f"search {b}")
            elif kind == "append":
                b = len(appends)
                batch = [(next_id + j, point())
                         for j in range(APPEND_BATCH)]
                next_id += APPEND_BATCH
                appends.append(batch)
                live.extend(i for i, _ in batch)
                ops.append(f"append {b}")
            elif kind == "delete":
                gone = sorted(rng.sample(live, DELETE_BATCH))
                dropped = set(gone)
                live = [i for i in live if i not in dropped]
                ops.append("delete " + ",".join(map(str, gone)))
            else:
                ops.append("maintain")
    return base, queries, appends, ops


def stream_files(seed):
    """FILES event files of EVENTS_PER_FILE rows (user_id, ts_us, event_type).

    File f covers event time [f, f + 1) * FILE_SPAN_US; a LATE_SHARE of its
    events arrive up to MAX_DISORDER_US late, inside the watermark.
    """
    rng = random.Random(seed)
    users = list(range(1, USERS + 1))
    rng.shuffle(users)
    cum = list(itertools.accumulate((i + 1) ** -ZIPF_S for i in range(USERS)))
    total = cum[-1]
    files = []
    for f in range(FILES):
        base = EVENT_T0_US + f * FILE_SPAN_US
        rows = []
        for _ in range(EVENTS_PER_FILE):
            u = users[bisect.bisect_left(cum, rng.random() * total)]
            ts = base + rng.randrange(FILE_SPAN_US)
            if rng.random() < LATE_SHARE:
                ts -= rng.randrange(MAX_DISORDER_US)
            rows.append((u, ts, EVENT_TYPES[rng.randrange(len(EVENT_TYPES))]))
        files.append(rows)
    return files


def _fmt_vec(v):
    return ",".join(f"{x:.6f}" for x in v)


def _write(path, lines):
    with open(path, "w", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def write_inputs(workload, seed, out_dir):
    """Writes `workload`'s inputs for `seed` under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "graph-analytics":
        redges, sssp_start = round_graph(seed)
        wedges, warm_start = round_graph(seed, WARM_LAYERS)
        pedges, bfs_start = power_graph(seed)
        _write(os.path.join(out_dir, "round.tsv"), (f"{s}\t{d}\t{w}" for s, d, w in redges))
        _write(os.path.join(out_dir, "round_warm.tsv"), (f"{s}\t{d}\t{w}" for s, d, w in wedges))
        _write(os.path.join(out_dir, "power.tsv"), (f"{s}\t{d}" for s, d in pedges))
        _write(os.path.join(out_dir, "power_warm.tsv"),
               (f"{s}\t{d}" for s, d in pedges[:WARM_POWER_EDGES]))
        _write(os.path.join(out_dir, "params.tsv"),
               [f"sssp_start\t{sssp_start}", f"bfs_start\t{bfs_start}",
                f"warm_sssp_start\t{warm_start}", f"louvain_rounds\t{LOUVAIN_ROUNDS}"])
    elif workload == "index-churn":
        base, queries, appends, ops = index_inputs(seed)
        _write(os.path.join(out_dir, "base.tsv"), (f"{i}\t{_fmt_vec(v)}" for i, v in base))
        _write(os.path.join(out_dir, "queries.tsv"),
               (f"{b}\t{i}\t{_fmt_vec(v)}" for b, batch in enumerate(queries) for i, v in batch))
        _write(os.path.join(out_dir, "appends.tsv"),
               (f"{b}\t{i}\t{_fmt_vec(v)}" for b, batch in enumerate(appends) for i, v in batch))
        _write(os.path.join(out_dir, "ops.txt"), ops)
    elif workload == "stream-ingest":
        files = stream_files(seed)
        d = os.path.join(out_dir, "events")
        os.makedirs(d, exist_ok=True)
        for f, rows in enumerate(files):
            _write(os.path.join(d, f"part-{f:05d}.csv"), (f"{u},{ts},{t}" for u, ts, t in rows))
        _write(os.path.join(out_dir, "stream.tsv"), [f"interval_ms\t{FILE_INTERVAL_MS}"])
    else:
        raise ValueError(f"unknown workload {workload}")
