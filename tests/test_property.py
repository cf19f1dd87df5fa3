"""Property-based tests (hypothesis) for the pure-Python codec seams —
the parts whose correctness the SQL oracles can only spot-check."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from amazonbigdata_for_students_spark.functions.multimodal import (
    PpmDecoder,
    WavDecoder,
    synth_ppm,
    synth_wav,
)


@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=80),
    h=st.integers(min_value=1, max_value=60),
    seed=st.binary(min_size=1, max_size=64),
)
def test_ppm_roundtrip_any_size(w, h, seed):
    stats = PpmDecoder().decode_ppm_stats(synth_ppm(w, h, seed))
    need = w * h * 3
    assert stats == (w, h, sum((seed * (need // len(seed) + 1))[:need]))


@settings(max_examples=30, deadline=None)
@given(
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    ch=st.integers(min_value=1, max_value=2),
    frames=st.integers(min_value=1, max_value=500),
    seed=st.binary(min_size=1, max_size=32),
)
def test_wav_roundtrip_any_shape(rate, ch, frames, seed):
    got = WavDecoder().decode_wav_stats(synth_wav(rate, ch, frames, seed))
    assert got == (rate, ch, (frames * 1000) // rate)


@given(n=st.integers(min_value=1, max_value=5000), k=st.integers(min_value=1, max_value=16))
@settings(max_examples=200, deadline=None)
def test_closed_form_ntile_formula(n, k):
    """curriculum_stage_assign's distributed decomposition relies on the
    closed-form rank->bucket formula reproducing SQL ntile(k) exactly:
    first n%k buckets get one extra row. Checked against the definition
    for arbitrary (n, k) — including n < k, where ntile gives each of the
    first n buckets exactly one row."""
    base, rem = divmod(n, k)
    # reference assignment per the SQL-standard ntile definition
    expect = []
    for b in range(1, k + 1):
        size = base + (1 if b <= rem else 0)
        expect.extend([b] * size)
    # the closed-form used in the Spark plan
    cut = rem * (base + 1)
    got = []
    for r in range(1, n + 1):
        if base == 0:
            got.append(r)
        elif r <= cut:
            got.append((r - 1) // (base + 1) + 1)
        else:
            got.append(rem + (r - 1 - cut) // base + 1)
    assert got == expect


# ---------------------------------------------------------------------------
# Round-6 primitives: commit-footprint algebra and rendezvous hashing


@settings(max_examples=100, deadline=None)
@given(
    a_lo=st.integers(-100, 100), a_len=st.integers(0, 50),
    b_lo=st.integers(-100, 100), b_len=st.integers(0, 50),
)
def test_footprint_overlap_matches_interval_math(a_lo, a_len, b_lo, b_len):
    from amazonbigdata_for_students_spark.sources.commitlog import CommitLog

    a = {"k": [a_lo, a_lo + a_len]}
    b = {"k": [b_lo, b_lo + b_len]}
    expected = not (a["k"][0] > b["k"][1] or a["k"][1] < b["k"][0])
    got = CommitLog._footprints_overlap(a, b)
    assert got == expected
    assert got == CommitLog._footprints_overlap(b, a)  # symmetric


@settings(max_examples=50, deadline=None)
@given(
    keys=st.lists(st.integers(0, 10**9), min_size=1, max_size=60, unique=True),
    n=st.integers(2, 12),
)
def test_rendezvous_hashing_is_monotone_under_growth(keys, n):
    # HRW's defining property, pure-Python twin of the registered query's
    # md5-argmax: growing N -> N+1 shards only ever moves keys TO the new
    # shard; keys that stay, stay put. Any violation breaks the minimal-
    # movement contract the shard_rendezvous_stability oracle audits.
    import hashlib

    def shard(key: int, n_shards: int) -> int:
        return max(
            range(n_shards),
            key=lambda s: (hashlib.md5(f"{key}|{s}".encode()).hexdigest(), s),
        )

    before = {k: shard(k, n) for k in keys}
    after = {k: shard(k, n + 1) for k in keys}
    for k in keys:
        assert after[k] == before[k] or after[k] == n


@settings(max_examples=50, deadline=None)
@given(
    u=st.integers(1, 1_048_576),
    w_small=st.integers(1, 500),
    w_big=st.integers(501, 5_000),
)
def test_ares_key_is_monotone_in_weight(u, w_small, w_big):
    # Efraimidis-Spirakis keys u^(1/w): for the SAME uniform draw, a larger
    # weight always yields a larger key — the property that makes top-K a
    # weighted sample. (Rounded to 9 decimals as the query does; equal
    # rounded keys are allowed only when u is at the domain edge.)
    uu = u / 1_048_576.0
    k_small = round(uu ** (1.0 / w_small), 9)
    k_big = round(uu ** (1.0 / w_big), 9)
    assert k_big >= k_small


@settings(max_examples=60, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["add", "add_pinned", "remove", "readd", "checkpoint"]),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=24,
    ),
    batch_every=st.integers(min_value=0, max_value=3),
)
def test_checkpoint_fastpath_equals_full_replay(ops, batch_every):
    """Checkpoint algebra: for ANY interleaving of adds, removes,
    version-pinned adds (clone semantics), and checkpoints, the
    checkpoint fast path must produce the SAME live set as full log
    replay at EVERY as-of version — including as-of values below,
    at, and above each checkpoint — and committed_batch_ids must read
    through checkpoints. Adds carry min/max stats boxes for some tokens
    (re-adds never do), and stats pruning must keep and skip the same
    files as a copy of the log with its checkpoints deleted. The
    manifests are metadata-only here (tokens never get data dirs), which
    is exactly the layer checkpointing rewrites."""
    import os
    import shutil
    import tempfile

    from amazonbigdata_for_students_spark.sources.commitlog import CommitLog

    with tempfile.TemporaryDirectory() as d:
        log = CommitLog(os.path.join(d, "log"))
        counter = 0
        all_tokens: list[str] = []
        n_commits = 0
        for kind, arg in ops:
            if kind == "checkpoint":
                ck = log.write_checkpoint()
                assert (ck is None) == (n_commits == 0)
                continue
            if kind == "remove":
                if not all_tokens:
                    continue
                victims = all_tokens[arg % len(all_tokens) :][:2]
                log.commit([], removes=victims)
                n_commits += 1
                continue
            if kind == "readd":
                # re-add a possibly-removed existing token: ORDERED replay
                # semantics say the re-add revives it (the checkpoint-vs-
                # full-replay divergence class)
                if not all_tokens:
                    continue
                log.commit([all_tokens[arg % len(all_tokens)]])
                n_commits += 1
                continue
            toks = [f"t{counter + i}" for i in range(1 + arg % 3)]
            counter += len(toks)
            all_tokens.extend(toks)
            av = None
            if kind == "add_pinned":
                av = {t: -(i + 1) for i, t in enumerate(toks)}
            bid = n_commits if batch_every and n_commits % batch_every == 0 else None
            # token tN's box is [10N, 10N + 5]; every third token has none
            stats = {
                t: {"k": [10 * int(t[1:]), 10 * int(t[1:]) + 5, False]}
                for t in toks
                if int(t[1:]) % 3
            }
            log.commit(toks, add_versions=av, batch_id=bid, stats=stats)
            n_commits += 1

        head = log.head()
        # the same log without its checkpoints: every read is a full replay
        bare = CommitLog(
            shutil.copytree(
                log.path,
                os.path.join(d, "bare"),
                ignore=shutil.ignore_patterns("_checkpoints"),
            )
        )
        for as_of in [None, *range(head + 1)]:
            fast = sorted(log.live_tokens(as_of))
            slow = sorted(log.live_tokens(as_of, use_checkpoint=False))
            assert fast == slow, f"fork at as_of={as_of}"
            for lo, hi in ((-10, -1), (10, 35)):
                kept, skipped = log.live_tokens_pruned("k", lo, hi, as_of)
                kept_b, skipped_b = bare.live_tokens_pruned("k", lo, hi, as_of)
                assert (sorted(kept), skipped) == (sorted(kept_b), skipped_b), (
                    f"pruning fork at as_of={as_of}, k in [{lo}, {hi}]"
                )

        # batch ids must survive checkpoint folding for a fresh reader
        fresh = CommitLog(log.path)
        expect = {
            m["batch_id"]
            for _, m in log.snapshot()
            if m.get("batch_id") is not None
        }
        assert fresh.committed_batch_ids() == expect


def _bpe_sequential_reference(freqs: dict[str, int], n_merges: int):
    """Pure-Python classical BPE (one argmax per merge, count DESC then
    pair-lexicographic tie-break, self-pairs excluded) — the ground truth
    the batched multi-merge rounds in plans.text._bpe_learn must equal."""
    segs = {w: [c for c in w] for w in freqs}
    merges = []
    for step in range(1, n_merges + 1):
        cnt: dict[tuple[str, str], int] = {}
        for w, seg in segs.items():
            for i in range(len(seg) - 1):
                cnt[(seg[i], seg[i + 1])] = cnt.get((seg[i], seg[i + 1]), 0) + freqs[w]
        cand = [(n, a, b) for (a, b), n in cnt.items() if a != b]
        if not cand:
            break
        n, a, b = min(cand, key=lambda t: (-t[0], t[1], t[2]))
        merges.append((step, a, b, n))
        for w, seg in segs.items():
            out, i = [], 0
            while i < len(seg):
                if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                    out.append(seg[i] + seg[i + 1])
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            segs[w] = out
    return merges


@settings(max_examples=12, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=7),
        min_size=1,
        max_size=30,
    ),
    freq=st.lists(st.integers(1, 9), min_size=30, max_size=30),
)
def test_bpe_batched_rounds_equal_sequential(spark, words, freq):
    """The multi-merge acceptance rule (VERDICT r6 item 5) claims exact
    equivalence to the classical one-argmax-per-merge loop: symbol-
    disjoint prefix, strictly above every earlier pair's new-pair bound.
    Hypothesis drives tiny adversarial corpora — repeated chars (self-pair
    adjacencies), ties, chains like 'ababab' — where a wrong bound or
    overlap rule would reorder or miscount merges."""
    from amazonbigdata_for_students_spark.plans.text import _bpe_learn

    freqs: dict[str, int] = {}
    for w, f in zip(words, freq):
        freqs[w] = freqs.get(w, 0) + f
    expect = _bpe_sequential_reference(dict(freqs), 5)
    wdf = spark.createDataFrame(list(freqs.items()), "word string, freq long")
    got, _ = _bpe_learn(wdf, 5)
    got = [(int(s), a, b, int(n)) for s, a, b, n in got]
    assert got == expect, f"corpus {freqs}"


# --- eval-lane formula identities (plans/evals.py) --------------------------
# The SQL oracles prove Spark==DuckDB; these prove the FORMULAS both
# engines compute equal the textbook definitions.


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=12), st.booleans()),
        min_size=1,
        max_size=120,
    )
)
def test_histogram_auc_equals_pairwise_auc(rows):
    """eval_auc_mannwhitney's histogram identity: with per-score counts
    np/nn and cumneg = negatives strictly below, sum np*(2*cumneg+nn)
    == 2 * sum over (pos, neg) pairs of [1 if s_p > s_n else 0.5 if ==]."""
    from collections import Counter

    hist = Counter()
    for s, pos in rows:
        hist[s] = (hist[s][0] + pos, hist[s][1] + (not pos)) if s in hist else (
            int(pos),
            int(not pos),
        )
    auc2 = 0
    cumneg = 0
    for s in sorted(hist):
        np_, nn = hist[s]
        auc2 += np_ * (2 * cumneg + nn)
        cumneg += nn
    brute = 0.0
    pos_scores = [s for s, p in rows if p]
    neg_scores = [s for s, p in rows if not p]
    for sp in pos_scores:
        for sn in neg_scores:
            brute += 1.0 if sp > sn else (0.5 if sp == sn else 0.0)
    assert auc2 == int(2 * brute)


@settings(max_examples=200, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "fr", "es", "zh"]),
            st.sampled_from(["en", "de", "fr", "es", "und"]),
        ),
        min_size=1,
        max_size=200,
    )
)
def test_kappa_cleared_form_equals_textbook(pairs):
    """eval_cohens_kappa's cleared-denominator integers: 10^6*(N*diag -
    pe_num) // (N² - pe_num) equals floor(10^6 * (po-pe)/(1-pe)) computed
    with exact fractions."""
    from collections import Counter
    from fractions import Fraction

    n = len(pairs)
    diag = sum(1 for a, b in pairs if a == b)
    row = Counter(a for a, _ in pairs)
    col = Counter(b for _, b in pairs)
    pe_num = sum(row[c] * col[c] for c in set(row) & set(col))
    den = n * n - pe_num
    if den == 0:
        return  # guard branch returns 0 in the query; nothing to compare
    scaled = (1_000_000 * (n * diag - pe_num)) // den if (n * diag - pe_num) >= 0 else -(
        (-1_000_000 * (n * diag - pe_num)) // den
    )  # floor-toward-zero like Spark div / DuckDB //
    po = Fraction(diag, n)
    pe = Fraction(pe_num, n * n)
    kappa = (po - pe) / (1 - pe)
    expect = int(1_000_000 * kappa)  # int() truncates toward zero
    assert scaled == expect


@settings(max_examples=200, deadline=None)
@given(
    tp=st.integers(min_value=0, max_value=1000),
    fp=st.integers(min_value=0, max_value=1000),
    fn=st.integers(min_value=0, max_value=1000),
)
def test_f1_single_division_identity(tp, fp, fn):
    """eval_confusion_f1's one-division form 2tp/(n_pred+n_actual) equals
    the harmonic mean 2PR/(P+R) as exact fractions (when defined)."""
    from fractions import Fraction

    n_pred, n_actual = tp + fp, tp + fn
    if n_pred == 0 or n_actual == 0 or tp == 0:
        return
    p = Fraction(tp, n_pred)
    r = Fraction(tp, n_actual)
    assert Fraction(2 * tp, n_pred + n_actual) == 2 * p * r / (p + r)


class _FakeGroupState:
    """Minimal stand-in for pyspark's GroupState — the fold only touches
    exists / get / update."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _run_fold(batches):
    """Drive streaming.folds.token_bucket_fold over a list of batches
    (each a list of epoch seconds) with one carried state; return the
    final (n_events, n_admitted, tokens_end_scaled)."""
    import pandas as pd

    from amazonbigdata_for_students_spark.streaming.folds import token_bucket_fold

    state = _FakeGroupState()
    last = None
    for i, ts in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "user_id": [7] * len(ts),
                "ts": list(ts),
                "event_id": list(range(i * 10_000, i * 10_000 + len(ts))),
                "t": list(ts),
            }
        )
        out = list(token_bucket_fold((7,), iter([pdf]), state))
        if out:
            last = out[0].iloc[0]
    return int(last["n_events"]), int(last["n_admitted"]), int(last["tokens_end_scaled"])


@settings(max_examples=100, deadline=None)
@given(
    gaps=st.lists(st.integers(min_value=0, max_value=15), min_size=1, max_size=60),
    split=st.integers(min_value=0, max_value=60),
)
def test_token_bucket_fold_split_invariance_and_bounds(gaps, split):
    # Event times from cumulative gaps (nondecreasing — the ordering
    # contract). Folding everything in ONE batch must equal folding with
    # a state hand-off at ANY split point, and the bucket invariants must
    # hold: 0 <= tokens <= capacity, admitted <= n, and admitted >= 1
    # (the first event always finds a full bucket).
    t0 = 1_700_000_000
    ts = []
    t = t0
    for g in gaps:
        t += g
        ts.append(t)
    split = min(split, len(ts))
    one = _run_fold([ts])
    two = _run_fold([ts[:split], ts[split:]] if 0 < split < len(ts) else [ts])
    assert one == two
    n, adm, tok = one
    assert n == len(ts)
    assert 1 <= adm <= n
    assert 0 <= tok <= 10000


def _run_ewma(batches):
    """Drive streaming.folds.ewma_fold over lists of cents with one
    carried state; return the final (n_events, ewma_cents, n_anomalies)."""
    import pandas as pd

    from amazonbigdata_for_students_spark.streaming.folds import ewma_fold

    state = _FakeGroupState()
    last, t = None, 0
    for qs in batches:
        ts = list(range(t, t + len(qs)))
        t += len(qs)
        pdf = pd.DataFrame(
            {"user_id": [7] * len(qs), "ts": ts, "event_id": ts, "q": list(qs)}
        )
        out = list(ewma_fold((7,), iter([pdf]), state))
        if out:
            last = out[0].iloc[0]
    return int(last["n_events"]), int(last["ewma_cents"]), int(last["n_anomalies"])


@settings(max_examples=100, deadline=None)
@given(
    qs=st.lists(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=60),
    split=st.integers(min_value=0, max_value=60),
)
def test_ewma_fold_split_invariance_matches_recurrence(qs, split):
    # Folding in ONE batch must equal folding with a state hand-off at ANY
    # split point, and both must equal the recurrence the batch oracle
    # runs: seed e = q1, then an anomaly when q > 2e after 3 events and
    # e = (3e + q) div 4.
    split = min(split, len(qs))
    one = _run_ewma([qs])
    two = _run_ewma([qs[:split], qs[split:]] if 0 < split < len(qs) else [qs])
    assert one == two
    e, a = qs[0], 0
    for n, q in enumerate(qs[1:], start=1):
        if n >= 3 and q > 2 * e:
            a += 1
        e = (3 * e + q) // 4
    assert one == (len(qs), e, a)


_FOLDS = (
    "ewma_fold",
    "token_bucket_fold",
    "sprt_walk_fold",
    "holt_winters_fold",
    "cusum_fold",
    "slo_burn_fold",
    "funnel_stage_fold",
    "croston_fold",
)


@pytest.mark.parametrize("name", _FOLDS)
def test_fold_skips_empty_batches_and_pickles_by_reference(name):
    # No frames (a timed-out key) and an empty frame both yield nothing
    # and leave the state unset; the wrapped fold still pickles as a
    # reference to its module attribute, so workers import folds.py.
    import pickle

    import pandas as pd
    from pyspark import cloudpickle

    from amazonbigdata_for_students_spark.streaming import folds

    fold = getattr(folds, name)
    cols = ("ts", "event_id", "q", "t", "inc", "d", "h", "one", "err", "us", "event_type")
    for pdfs in ([], [pd.DataFrame({c: [] for c in cols})]):
        state = _FakeGroupState()
        assert list(fold((1,), iter(pdfs), state)) == []
        assert not state.exists
    assert pickle.loads(cloudpickle.dumps(fold)) is fold


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=20),  # user
        st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_wau_interval_diff_array_equals_bruteforce(user_days):
    """clk_rolling_wau's twins SHARE the segment/diff-array formulation
    (oracle parity cannot catch an algebra bug in it — the
    graph_degree_powerlaw lesson), so the algorithm itself is proven
    here against the definitional brute force: WAU(d) = #users active
    in [d-6, d], for arbitrary activity sets."""
    K = 7
    # the shared algorithm: per-user segments (gap <= K-1) -> coverage
    # intervals [start, last+K-1] -> +-1 diffs -> running sum over spine
    diffs: dict[int, int] = {}
    for days in user_days.values():
        ds = sorted(days)
        seg_start = prev = ds[0]
        segs = []
        for d in ds[1:]:
            if d - prev <= K - 1:
                prev = d
            else:
                segs.append((seg_start, prev + K - 1))
                seg_start = prev = d
        segs.append((seg_start, prev + K - 1))
        for s, e in segs:
            diffs[s] = diffs.get(s, 0) + 1
            diffs[e + 1] = diffs.get(e + 1, 0) - 1
    lo = min(min(d) for d in user_days.values())
    hi = max(max(d) for d in user_days.values())
    run, got = 0, {}
    for d in range(lo, hi + 1):
        run += diffs.get(d, 0)
        got[d] = run
    brute = {
        d: sum(
            1
            for days in user_days.values()
            if any(d - (K - 1) <= a <= d for a in days)
        )
        for d in range(lo, hi + 1)
    }
    assert got == brute


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=1_000_000), min_size=16, max_size=16
    )
)
def test_shapley_factorial_weights_equal_permutation_sum(vvals):
    """clk_attribution_shapley's twins SHARE the x24 factorial-weight
    formula, so the weights are proven here against the definitional
    permutation enumeration: for every channel i,
    sum over orderings of [v(before ∪ i) - v(before)] equals
    sum over S not containing i of |S|!(3-|S|)! * [v(S|i) - v(S)]."""
    from itertools import permutations

    v = {s: vvals[s] for s in range(16)}
    bits = [1, 2, 4, 8]
    w = {0: 6, 1: 2, 2: 2, 3: 6}

    def popcount(x):
        return bin(x).count("1")

    for b in bits:
        formula = sum(
            w[popcount(s)] * (v[s | b] - v[s]) for s in range(16) if not s & b
        )
        perm_sum = 0
        for order in permutations(bits):
            before = 0
            for c in order:
                if c == b:
                    perm_sum += v[before | b] - v[before]
                    break
                before |= c
        assert formula == perm_sum


@settings(max_examples=40, deadline=None)
@given(
    rate=st.sampled_from([8000, 16000]),
    ch=st.integers(min_value=1, max_value=2),
    frames=st.integers(min_value=1, max_value=300),
    seed=st.binary(min_size=1, max_size=48),
)
def test_wav_silence_roundtrip_any_shape(rate, ch, frames, seed):
    """decode_wav_silence through the real codec must equal the silence
    count computed directly from the tiled seed bytes — arbitrary
    rates/channels/frames/seeds (including high-bit bytes, where the
    int16 goes NEGATIVE and the |s| < threshold gate is two-sided)."""
    from amazonbigdata_for_students_spark.functions.multimodal import (
        WavDecoder,
        synth_wav,
    )

    wav = synth_wav(rate, ch, frames, seed)
    n, silent = WavDecoder().decode_wav_silence(wav, 16384)
    need = frames * ch * 2
    pcm = (seed * (need // len(seed) + 1))[:need]
    want = sum(
        1
        for i in range(frames * ch)
        if -16384
        < int.from_bytes(pcm[2 * i : 2 * i + 2], "little", signed=True)
        < 16384
    )
    assert (n, silent) == (frames * ch, want)


# --- round-9 wave 7-10 algebra ------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    perm=st.permutations(list(range(12))),
    overlap_seed=st.integers(min_value=0, max_value=2**31),
)
def test_rbo_integer_weights_equal_exact_rational(perm, overlap_seed):
    """retrieval_rbo_overlap's fraction-free integer weights must equal
    the exact rational RBO at every depth: Fraction reference vs the
    precomputed 9^(d-1)*10^(10-d)*(2520/d) dot product, both floored to
    ppm. Ranking B is a (seeded) permutation of A restricted to 12
    candidates, so prefixes overlap partially at every depth."""
    from fractions import Fraction

    from amazonbigdata_for_students_spark.plans.retrieval import (
        _RBO_DEN,
        _RBO_DEPTH,
        _RBO_W,
    )

    r1 = list(range(12))[:_RBO_DEPTH]
    r2 = perm[:_RBO_DEPTH]
    p = Fraction(9, 10)
    num = 0
    exact = Fraction(0)
    for d in range(1, _RBO_DEPTH + 1):
        ov = len(set(r1[:d]) & set(r2[:d]))
        num += _RBO_W[d] * ov
        exact += (1 - p) * p ** (d - 1) * Fraction(ov, d)
        got_ppm = num * 1_000_000 // _RBO_DEN
        ref_ppm = (exact * 1_000_000).numerator // (exact * 1_000_000).denominator
        assert got_ppm == ref_ppm
    assert 0 <= got_ppm <= 651_321  # truncated-RBO ceiling at depth 10


@settings(max_examples=200, deadline=None)
@given(perm=st.permutations(list(range(2, 14))))
def test_kendall_cleared_form_equals_definition(perm):
    """eval_kendall_tau's (C-D)*1e6 div pairs must equal tau-a computed
    from the inversion definition with exact rationals (int() = the
    toward-zero truncation both engines' div applies)."""
    from fractions import Fraction

    n = len(perm)
    ra = {v: i + 1 for i, v in enumerate(sorted(perm))}
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            s = (i - j) * (perm[i] - perm[j])
            if s > 0:
                c += 1
            elif s < 0:
                d += 1
    np_ = n * (n - 1) // 2
    got = (
        (c - d) * 1_000_000 // np_
        if (c - d) >= 0
        else -((-(c - d)) * 1_000_000 // np_)
    )
    ref = int(Fraction(c - d, np_) * 1_000_000)
    assert got == ref
    ident = list(range(n))
    assert sum(1 for i in range(n) for j in range(i + 1, n)) == np_
    # full reversal and identity hit the exact endpoints
    assert (np_ - 0) * 1_000_000 // np_ == 1_000_000


@settings(max_examples=300, deadline=None)
@given(hs=st.lists(st.integers(min_value=0, max_value=3), min_size=2, max_size=60))
def test_fleiss_cleared_form_equals_textbook(hs):
    """eval_fleiss_kappa's cross-multiplied integer kappa must equal the
    textbook (P_bar - P_e)/(1 - P_e) computed with exact rationals,
    under the same toward-zero quantization."""
    from fractions import Fraction

    n = len(hs)
    a = sum(h * h + (3 - h) * (3 - h) for h in hs) - 3 * n
    d1 = 6 * n
    chi = sum(hs)
    b = chi * chi + (3 * n - chi) * (3 * n - chi)
    t = 9 * n * n
    if t - b == 0:
        return  # degenerate guard path (all-one-category)
    num = a * t - b * d1
    got = (
        num * 1_000_000 // (d1 * (t - b))
        if num >= 0
        else -((-num) * 1_000_000 // (d1 * (t - b)))
    )
    pbar = Fraction(a, d1)
    pe = Fraction(b, t)
    ref = int((pbar - pe) / (1 - pe) * 1_000_000)
    assert got == ref


@settings(max_examples=300, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.sampled_from([2, 3]),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_krippendorff_cleared_form_equals_coincidence(pairs):
    """eval_krippendorff_alpha's collapsed integer form must equal the
    coincidence-matrix definition (exact rationals): alpha =
    1 - D_o/D_e with D_o = sum h(m-h)*2/(m-1) / n_tot and D_e =
    2*n_hi*n_lo/(n_tot*(n_tot-1))."""
    from fractions import Fraction

    votes = [(min(h, m), m) for h, m in pairs]
    n_tot = sum(m for _, m in votes)
    n_hi = sum(h for h, _ in votes)
    n_lo = n_tot - n_hi
    if n_hi * n_lo == 0:
        return  # guard path
    o = sum(h * (m - h) * (2 // (m - 1)) for h, m in votes)
    got = 1_000_000 - o * (n_tot - 1) * 1_000_000 // (2 * n_hi * n_lo)
    d_o = Fraction(o, n_tot)
    d_e = Fraction(2 * n_hi * n_lo, n_tot * (n_tot - 1))
    ref_alpha = 1 - d_o / d_e
    # got composes 1e6 - floor(x); the reference floors the same term
    ref = 1_000_000 - (
        (Fraction(o * (n_tot - 1), 2 * n_hi * n_lo) * 1_000_000).numerator
        // (Fraction(o * (n_tot - 1), 2 * n_hi * n_lo) * 1_000_000).denominator
    )
    assert got == ref
    # and the collapsed algebra IS the coincidence formula (exact check)
    assert 1 - d_o / d_e == ref_alpha


@settings(max_examples=200, deadline=None)
@given(
    xs=st.lists(st.integers(min_value=0, max_value=50), min_size=3, max_size=40),
    a=st.integers(min_value=1, max_value=5),
    b=st.integers(min_value=0, max_value=20),
)
def test_cuped_theta_recovers_exact_linear_coefficient(xs, a, b):
    """When y = a*x + b exactly, eval_cuped_adjustment's integer theta
    (n*Sxy - Sx*Sy)*1e6 div (n*Sxx - Sx^2) must be exactly a*1e6 —
    cov(x, ax+b) = a*var(x) with no remainder."""
    if len(set(xs)) < 2:
        return  # var(x)=0 guard path
    ys = [a * x + b for x in xs]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    den = n * sxx - sx * sx
    assert den > 0
    assert (n * sxy - sx * sy) * 1_000_000 // den == a * 1_000_000


def _run_croston(batches):
    """Drive streaming.folds.croston_fold over day-lists with one carried
    state; return (n_demands, size_level, interval_level, rate_ppm)."""
    import pandas as pd

    from amazonbigdata_for_students_spark.streaming.folds import croston_fold

    state = _FakeGroupState()
    last = None
    for days in batches:
        if not days:
            continue
        pdf = pd.DataFrame({"d": list(days), "one": [1] * len(days)})
        out = list(croston_fold((1,), iter([pdf]), state))
        if out:
            last = out[0].iloc[0]
    return (
        int(last["n_demands"]),
        int(last["size_level"]),
        int(last["interval_level"]),
        int(last["demand_rate_ppm"]),
    )


@settings(max_examples=150, deadline=None)
@given(
    demands=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9),  # day gap to previous
            st.integers(min_value=1, max_value=6),  # demand size
        ),
        min_size=1,
        max_size=30,
    ),
    split=st.integers(min_value=0, max_value=200),
)
def test_croston_fold_split_invariance_matches_recurrence(demands, split):
    """Folding a demand stream in ONE batch must equal folding with a
    state hand-off at ANY event split point (days may straddle the
    split), and both must equal the pure Croston recurrence the batch
    twin defines: seed (sz=z1, iv=1), then sz'=(z+3sz)//4,
    iv'=(gap+3iv)//4 at each later demand day."""
    # materialize the event stream: one row per unit of demand
    days, d = [], 0
    series = []
    for gap, z in demands:
        d += gap
        series.append((d, z))
        days.extend([d] * z)
    split = min(split, len(days))
    one = _run_croston([days])
    two = _run_croston(
        [days[:split], days[split:]] if 0 < split < len(days) else [days]
    )
    assert one == two
    # pure recurrence reference
    sz, iv, prev = series[0][1], 1, series[0][0]
    for dd, z in series[1:]:
        sz = (z + 3 * sz) // 4
        iv = ((dd - prev) + 3 * iv) // 4
        prev = dd
    rate = 0 if iv == 0 else sz * 1_000_000 // iv
    assert one == (len(series), sz, iv, rate)
