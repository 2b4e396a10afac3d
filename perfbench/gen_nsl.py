"""Seeded NSL-KDD-shaped CSV generator for the ``nsl_pipeline`` workload.

The real NSL-KDD files are not in the repository, so the workload runs
on files of the same shape: 43 headerless comma-separated fields (41
features, the attack name, a trailing difficulty), with a quarter of
the per-attack row counts of the reference's KDDTrain+_20Percent and
KDDTest+ (each class at least one row): 6,302 train and 5,638 test
rows. A fit's time is set by its Spark jobs far more than by its rows,
and the quarter keeps a run inside the benchmark's time budget. The quirks the engine's loader and ``prepare``
must handle are all present:

- the trailing difficulty field;
- ``su_attempted`` takes the out-of-domain value 2;
- ``num_outbound_cmds`` is constant 0;
- 18 attack names appear only in the test file;
- class distributions overlap (every class draws from wide per-feature
  distributions and 4% of rows take another class's features), so the
  random forests grow full-depth trees instead of stopping at a few
  pure splits.

The class profiles are fixed (drawn from a constant seed); the run seed
only draws the rows. Different seeds therefore give statistically alike
files, so timings and F1 stay comparable across seeds.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

# per-attack row counts of KDDTrain+_20Percent / KDDTest+
REF_TRAIN_COUNTS: dict[str, int] = {
    "normal": 13449, "neptune": 8282, "ipsweep": 710, "satan": 691,
    "portsweep": 587, "smurf": 529, "nmap": 301, "back": 196,
    "teardrop": 188, "warezclient": 181, "pod": 38, "guess_passwd": 10,
    "warezmaster": 7, "buffer_overflow": 6, "imap": 5, "rootkit": 4,
    "multihop": 2, "phf": 2, "land": 1, "ftp_write": 1, "loadmodule": 1,
    "spy": 1,
}
REF_TEST_COUNTS: dict[str, int] = {
    "normal": 9711, "neptune": 4657, "guess_passwd": 1231, "mscan": 996,
    "warezmaster": 944, "apache2": 737, "satan": 735, "processtable": 685,
    "smurf": 665, "back": 359, "snmpguess": 331, "saint": 319,
    "mailbomb": 293, "snmpgetattack": 178, "portsweep": 157,
    "ipsweep": 141, "httptunnel": 133, "nmap": 73, "pod": 41,
    "buffer_overflow": 20, "multihop": 18, "named": 17, "ps": 15,
    "sendmail": 14, "rootkit": 13, "xterm": 13, "teardrop": 12,
    "xlock": 9, "land": 7, "xsnoop": 4, "ftp_write": 3, "worm": 2,
    "loadmodule": 2, "perl": 2, "sqlattack": 2, "udpstorm": 2, "phf": 2,
    "imap": 1,
}
SCALE = 4   # the reference's count of each class is divided by this
TRAIN_COUNTS = {k: max(1, round(v / SCALE)) for k, v in REF_TRAIN_COUNTS.items()}
TEST_COUNTS = {k: max(1, round(v / SCALE)) for k, v in REF_TEST_COUNTS.items()}
TRAIN_ROWS = sum(TRAIN_COUNTS.values())   # 6,302
TEST_ROWS = sum(TEST_COUNTS.values())     # 5,638

PROTOCOLS = ("tcp", "udp", "icmp")
FLAGS = ("SF", "S0", "REJ", "RSTR", "RSTO", "SH", "S1", "S2", "RSTOS0", "S3", "OTH")
SERVICES = tuple(f"svc{i:02d}" for i in range(70))

# feature columns in file order, grouped by how they are drawn
HEAVY = ("duration", "src_bytes", "dst_bytes")
SMALL = ("wrong_fragment", "urgent", "hot", "num_failed_logins",
         "num_compromised", "num_root", "num_file_creations",
         "num_shells", "num_access_files")
BINARY = ("land", "logged_in", "root_shell", "is_host_login", "is_guest_login")
COUNTS = (("count", 511), ("srv_count", 511),
          ("dst_host_count", 255), ("dst_host_srv_count", 255))
RATES = ("serror_rate", "srv_serror_rate", "rerror_rate", "srv_rerror_rate",
         "same_srv_rate", "diff_srv_rate", "srv_diff_host_rate",
         "dst_host_same_srv_rate", "dst_host_diff_srv_rate",
         "dst_host_same_src_port_rate", "dst_host_srv_diff_host_rate",
         "dst_host_serror_rate", "dst_host_srv_serror_rate",
         "dst_host_rerror_rate", "dst_host_srv_rerror_rate")
FILE_ORDER = (
    "duration", "protocol_type", "service", "flag", "src_bytes", "dst_bytes",
    "land", "wrong_fragment", "urgent", "hot", "num_failed_logins",
    "logged_in", "num_compromised", "root_shell", "su_attempted",
    "num_root", "num_file_creations", "num_shells", "num_access_files",
    "num_outbound_cmds", "is_host_login", "is_guest_login", "count",
    "srv_count", "serror_rate", "srv_serror_rate", "rerror_rate",
    "srv_rerror_rate", "same_srv_rate", "diff_srv_rate",
    "srv_diff_host_rate", "dst_host_count", "dst_host_srv_count",
    "dst_host_same_srv_rate", "dst_host_diff_srv_rate",
    "dst_host_same_src_port_rate", "dst_host_srv_diff_host_rate",
    "dst_host_serror_rate", "dst_host_srv_serror_rate",
    "dst_host_rerror_rate", "dst_host_srv_rerror_rate",
)
SWAP_FRAC = 0.04   # rows whose features come from another class


def _profile(name: str) -> dict:
    """Fixed per-class generative profile (independent of the run seed)."""
    r = np.random.default_rng(zlib.crc32(name.encode()))
    return {
        "proto": r.dirichlet(np.full(len(PROTOCOLS), 0.6)),
        "service": r.dirichlet(np.full(len(SERVICES), 0.15)),
        "flag": r.dirichlet(np.full(len(FLAGS), 0.3)),
        "heavy_p0": r.uniform(0.1, 0.9, len(HEAVY)),
        "heavy_mu": r.uniform(2.0, 9.0, len(HEAVY)),
        "small_p": r.uniform(0.0, 0.15, len(SMALL)),
        "binary_p": r.uniform(0.0, 1.0, len(BINARY)) ** 2,
        "su_p": r.uniform(0.0, 0.05, 2),          # P(1), P(2)
        "count_frac": r.uniform(0.02, 0.9, len(COUNTS)),
        "rate_ab": r.uniform(0.3, 4.0, (len(RATES), 2)),
        "difficulty": r.integers(5, 21),
    }


def _draw(rng: np.random.Generator, prof: dict, n: int) -> dict[str, np.ndarray]:
    cols: dict[str, np.ndarray] = {}
    cols["protocol_type"] = np.asarray(PROTOCOLS)[rng.choice(len(PROTOCOLS), n, p=prof["proto"])]
    cols["service"] = np.asarray(SERVICES)[rng.choice(len(SERVICES), n, p=prof["service"])]
    cols["flag"] = np.asarray(FLAGS)[rng.choice(len(FLAGS), n, p=prof["flag"])]
    for j, c in enumerate(HEAVY):
        val = rng.lognormal(prof["heavy_mu"][j], 1.5, n).astype(np.int64)
        cols[c] = np.where(rng.random(n) < prof["heavy_p0"][j], 0, val)
    for j, c in enumerate(SMALL):
        cols[c] = np.where(rng.random(n) < prof["small_p"][j], rng.poisson(2.0, n) + 1, 0)
    for j, c in enumerate(BINARY):
        cols[c] = (rng.random(n) < prof["binary_p"][j]).astype(np.int64)
    u = rng.random(n)
    p1, p2 = prof["su_p"]
    cols["su_attempted"] = np.where(u < p2, 2, np.where(u < p1 + p2, 1, 0))
    cols["num_outbound_cmds"] = np.zeros(n, dtype=np.int64)
    for j, (c, hi) in enumerate(COUNTS):
        cols[c] = rng.binomial(hi, prof["count_frac"][j], n)
    for j, c in enumerate(RATES):
        a, b = prof["rate_ab"][j]
        cols[c] = rng.beta(a, b, n)
    cols["difficulty"] = np.clip(rng.normal(prof["difficulty"], 3.0, n), 0, 21).astype(np.int64)
    return cols


def _table(rng: np.random.Generator, counts: dict[str, int]) -> pd.DataFrame:
    labels = np.concatenate([np.full(k, name, dtype=object) for name, k in counts.items()])
    rng.shuffle(labels)
    n = len(labels)
    names = sorted(counts)
    # feature source per row: its own class, or (SWAP_FRAC) another one
    source = labels.copy()
    swap = rng.random(n) < SWAP_FRAC
    source[swap] = np.asarray(names, dtype=object)[rng.integers(0, len(names), swap.sum())]
    cols: dict[str, np.ndarray] = {}
    for name in names:
        idx = np.flatnonzero(source == name)
        if len(idx) == 0:
            continue
        for c, v in _draw(rng, _profile(name), len(idx)).items():
            if c not in cols:
                cols[c] = np.empty(n, dtype=v.dtype if v.dtype.kind in "if" else object)
            cols[c][idx] = v
    table = pd.DataFrame({c: cols[c] for c in FILE_ORDER})
    table["labels"] = labels
    table["difficulty"] = cols["difficulty"]
    return table


def write_nsl(seed: int, train_path: str, test_path: str) -> dict[str, int]:
    """Write the train and test files for ``seed``; return their sizes
    and the test file's attack-row count (the scoring check's truth)."""
    rng = np.random.default_rng([seed, 0x4E534C])
    sizes: dict[str, int] = {}
    for path, counts in ((train_path, TRAIN_COUNTS), (test_path, TEST_COUNTS)):
        data = _table(rng, counts).to_csv(
            header=False, index=False, float_format="%.2f", lineterminator="\n"
        ).encode()
        with open(path, "wb") as f:
            f.write(data)
        sizes[path] = len(data)
    return {
        "train_rows": TRAIN_ROWS,
        "test_rows": TEST_ROWS,
        "test_attack_rows": TEST_ROWS - TEST_COUNTS["normal"],
        "input_bytes": sum(sizes.values()),
    }
