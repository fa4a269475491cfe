"""Nonlinear (tree) model tier: per-group gradient-boosted regression
trees via Arrow-batched ``applyInPandas``, with opaque binary model
blobs in the registry.

The reference's ML service trains RandomForest/LightGBM per symbol
with GridSearchCV (reference ml-service/ml_pipeline.py:90-104,
182-192) and stores pickled model blobs in GridFS
(ml_pipeline.py:223-227, 266-270). Spark-first re-expression:

- the per-key many-small-models structure is ONE ``groupBy(key)
  .applyInPandas`` job — same shuffle contract as the linear tier
  (pipeline/ml.py), so at 100 TB the tree family adds zero extra
  stages over OLS;
- sklearn/LightGBM are not in this environment, so the estimator is
  a self-contained numpy histogram-GBT (quantile-binned candidate
  splits, variance-reduction greedy trees on residuals). Math is the
  standard least-squares boosting recipe; it is fully deterministic
  (no feature/row subsampling, ties break toward the lowest bin), so
  rows-only driver checks and replay both reproduce bit-identical
  metrics;
- the trained ensemble is serialized to a ``BinaryType`` blob column
  — the registry (pipeline/ml.py:save_model_registry) persists it in
  parquet just like GridFS held the reference's pickles, and scoring
  reloads from the blob alone (roundtrip pinned in tests/test_ml.py).

Scoring broadcasts the dim-sized model table (one row per group —
same driver-side budget as the k-means centroid matrix) and predicts
inside a grouped Arrow pass.
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# flat-array tree: node i is a leaf iff feature[i] < 0 (value[i] is
# the prediction); otherwise x[feature[i]] <= threshold[i] -> left[i]
_TreeArrays = tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]


def _prebin(X: np.ndarray, n_bins: int) -> tuple[list[np.ndarray], np.ndarray]:
    """LightGBM-style global pre-binning: per-feature interior quantile
    edges over the whole group, plus the per-row bin index. Computed
    ONCE per group — every node of every tree reuses the bin ids, so
    split search is O(n_bins) bincounts, not O(n·bins) rescans.

    Bin id is the count of edges strictly below x, so
    ``bin <= j  ⇔  x <= edges[j]`` — the same "<=" the predictor uses.
    """
    edges: list[np.ndarray] = []
    binned = np.empty(X.shape, dtype=np.int64)
    for f in range(X.shape[1]):
        e = np.unique(np.quantile(X[:, f], np.linspace(0, 1, n_bins + 1)[1:-1]))
        edges.append(e)
        binned[:, f] = np.searchsorted(e, X[:, f], side="left")
    return edges, binned


def _fit_tree(
    X: np.ndarray,
    y: np.ndarray,
    *,
    max_depth: int,
    min_leaf: int,
    edges: list[np.ndarray],
    binned: np.ndarray,
) -> _TreeArrays:
    """Greedy variance-reduction CART over pre-binned features.

    Per node and feature, ONE bincount triple (count, Σy, Σy²) gives
    every candidate threshold's SSE via cumulative sums — all cuts are
    scored vectorized; ties break toward the lowest feature then the
    lowest cut (np.argmax picks the first maximum), so the tree is
    deterministic.
    """
    feature: list[int] = []
    threshold: list[float] = []
    left: list[int] = []
    right: list[int] = []
    value: list[float] = []

    def new_node() -> int:
        feature.append(-1)
        threshold.append(0.0)
        left.append(-1)
        right.append(-1)
        value.append(0.0)
        return len(feature) - 1

    def build(idx: np.ndarray, depth: int) -> int:
        node = new_node()
        yv = y[idx]
        n = len(idx)
        s = float(yv.sum())
        sq = float((yv * yv).sum())
        value[node] = s / n
        if depth >= max_depth or n < 2 * min_leaf:
            return node
        base_sse = sq - s * s / n
        best_gain, best_f, best_cut = 1e-12, -1, -1
        for f in range(X.shape[1]):
            ncuts = len(edges[f])
            if ncuts == 0:
                continue
            b = binned[idx, f]
            cnt = np.bincount(b, minlength=ncuts + 1)
            sy = np.bincount(b, weights=yv, minlength=ncuts + 1)
            syy = np.bincount(b, weights=yv * yv, minlength=ncuts + 1)
            cl = cnt.cumsum()[:-1]
            sl = sy.cumsum()[:-1]
            sql = syy.cumsum()[:-1]
            cr, sr, sqr = n - cl, s - sl, sq - sql
            with np.errstate(divide="ignore", invalid="ignore"):
                sse = (sql - sl * sl / np.maximum(cl, 1)) + (
                    sqr - sr * sr / np.maximum(cr, 1)
                )
            gain = base_sse - sse
            gain[(cl < min_leaf) | (cr < min_leaf)] = -np.inf
            j = int(np.argmax(gain))
            if gain[j] > best_gain:
                best_gain, best_f, best_cut = float(gain[j]), f, j
        if best_f < 0:
            return node
        thr = float(edges[best_f][best_cut])
        m = binned[idx, best_f] <= best_cut
        feature[node] = best_f
        threshold[node] = thr
        left[node] = build(idx[m], depth + 1)
        right[node] = build(idx[~m], depth + 1)
        return node

    build(np.arange(len(y)), 0)
    return (
        np.asarray(feature, dtype=np.int32),
        np.asarray(threshold, dtype=np.float64),
        np.asarray(left, dtype=np.int32),
        np.asarray(right, dtype=np.int32),
        np.asarray(value, dtype=np.float64),
    )


def _tree_predict(tree: _TreeArrays, X: np.ndarray) -> np.ndarray:
    """Vectorized descent: all rows advance one level per iteration
    (≤ max_depth iterations total, no per-row Python loop)."""
    feature, threshold, left, right, value = tree
    node = np.zeros(len(X), dtype=np.int32)
    rows = np.nonzero(feature[node] >= 0)[0]
    while len(rows):
        cur = node[rows]
        goleft = X[rows, feature[cur]] <= threshold[cur]
        node[rows] = np.where(goleft, left[cur], right[cur])
        rows = rows[feature[node[rows]] >= 0]
    return value[node]


def gbt_fit(
    X: np.ndarray,
    y: np.ndarray,
    *,
    n_trees: int = 25,
    learning_rate: float = 0.1,
    max_depth: int = 3,
    min_leaf: int = 5,
    n_bins: int = 16,
) -> dict:
    """Least-squares gradient boosting: each tree fits the residual."""
    base = float(y.mean())
    pred = np.full(len(y), base)
    edges, binned = _prebin(X, n_bins)
    trees: list[_TreeArrays] = []
    for _ in range(n_trees):
        tree = _fit_tree(
            X,
            y - pred,
            max_depth=max_depth,
            min_leaf=min_leaf,
            edges=edges,
            binned=binned,
        )
        pred = pred + learning_rate * _tree_predict(tree, X)
        trees.append(tree)
    return {"base": base, "lr": learning_rate, "trees": trees}


def gbt_predict(model: dict, X: np.ndarray) -> np.ndarray:
    pred = np.full(len(X), model["base"])
    for tree in model["trees"]:
        pred = pred + model["lr"] * _tree_predict(tree, X)
    return pred


def blob_dumps(model: dict, feature_cols: list[str]) -> bytes:
    """Serialize an ensemble to the registry's opaque blob format
    (the engine's GridFS stand-in: reference ml_pipeline.py:223-227)."""
    return pickle.dumps(
        {"format": "gbt-v1", "feature_cols": list(feature_cols), **model},
        protocol=4,
    )


def blob_dumps_external(model, feature_cols: list[str], family: str) -> bytes:
    """Serialize an EXTERNAL-library regressor (sklearn fit/predict
    contract — LightGBM's LGBMRegressor is the canonical instance,
    reference ml_pipeline.py:90-104 trains RF/LightGBM/LinearRegression)
    into the same opaque registry blob the native ensembles use. The
    payload is the model object itself (pickled by reference to its
    library), wrapped with the feature-column order exactly as
    blob_dumps does — scoring rebuilds the matrix from the blob's own
    column list, never the caller's."""
    return pickle.dumps(
        {
            "format": "ext-v1",
            "family": str(family),
            "feature_cols": list(feature_cols),
            "payload": model,
        },
        protocol=4,
    )


def blob_loads(blob: bytes) -> dict:
    model = pickle.loads(bytes(blob))
    if model.get("format") not in ("gbt-v1", "ext-v1"):
        raise ValueError(f"unknown model blob format {model.get('format')!r}")
    return model


def blob_predict(model: dict, X: "np.ndarray") -> "np.ndarray":
    """Score a deserialized registry blob of EITHER family: native
    histogram ensembles walk gbt_predict; ext-v1 blobs call the
    payload's sklearn-style .predict. One dispatch point so every
    serving path (broadcast and cogroup) supports every family."""
    if model.get("format") == "ext-v1":
        return np.asarray(model["payload"].predict(X), dtype=np.float64)
    return gbt_predict(model, X)


_GBT_SCHEMA = T.StructType(
    [
        T.StructField("group_key", T.StringType()),
        T.StructField("model_name", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_trees", T.IntegerType()),
        T.StructField("r2", T.DoubleType()),
        T.StructField("mse", T.DoubleType()),
        T.StructField("model_blob", T.BinaryType()),
    ]
)


def train_gbt_per_group(
    df: DataFrame,
    *,
    group_col: str,
    feature_cols: list[str],
    target_col: str,
    time_col: str | None = None,
    n_trees: int = 25,
    learning_rate: float = 0.1,
    max_depth: int = 3,
    min_leaf: int = 5,
    n_bins: int = 16,
    min_rows: int = 30,
) -> DataFrame:
    """M6 nonlinear family: per-group histogram-GBT, one
    ``applyInPandas`` shuffle on ``group_col`` (reference RF/LightGBM
    per symbol, ml_pipeline.py:90-104). Emits train-set R²/MSE and the
    serialized ensemble blob."""
    fcols = list(feature_cols)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=fcols + [target_col])
        if time_col is not None:
            pdf = pdf.sort_values(time_col)
        n = len(pdf)
        if n < min_rows:
            return pd.DataFrame(columns=[f.name for f in _GBT_SCHEMA.fields])
        key = str(pdf[group_col].iloc[0])
        X = np.column_stack([pdf[c].to_numpy(float) for c in fcols])
        y = pdf[target_col].to_numpy(float)
        model = gbt_fit(
            X,
            y,
            n_trees=n_trees,
            learning_rate=learning_rate,
            max_depth=max_depth,
            min_leaf=min_leaf,
            n_bins=n_bins,
        )
        pred = gbt_predict(model, X)
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        return pd.DataFrame(
            {
                "group_key": [key],
                "model_name": ["gbt_histogram"],
                "n_rows": [n],
                "n_trees": [int(n_trees)],
                "r2": [1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0],
                "mse": [ss_res / n],
                "model_blob": [blob_dumps(model, fcols)],
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, schema=_GBT_SCHEMA)


def train_external_per_group(
    df: DataFrame,
    *,
    group_col: str,
    feature_cols: list[str],
    target_col: str,
    make_model,
    family: str,
    time_col: str | None = None,
    min_rows: int = 30,
) -> DataFrame:
    """M6 family adapter: per-group training of ANY external regressor
    with the sklearn fit/predict contract into the unified blob
    registry — the explicit LightGBM-shaped member of the reference's
    RF/LightGBM/LinearRegression family set (ml-service/
    ml_pipeline.py:90-104). With lightgbm installed this is

        train_external_per_group(df, ..., family="lgbm",
            make_model=lambda: lightgbm.LGBMRegressor(
                n_estimators=50, random_state=7))

    and the emitted rows flow through unify_registries /
    best_model_per_group / serve_best_model unchanged (the family
    CONTRACT is pinned by tests with an injected deterministic fake,
    since the library itself is not installable here).

    ``make_model`` must be a zero-arg factory returning a fresh,
    picklable estimator (called once per group, worker-side); fitted
    models are pickled by reference to their library, so the scoring
    workers need the same library importable — the standard
    constraint for shipping sklearn-family models.

    Same scale shape as every per-group trainer: ONE applyInPandas
    shuffle on ``group_col``, model blobs are per-group driver-free
    state, and n_trees reports the estimator's n_estimators when it
    has one (NULL otherwise)."""
    fcols = list(feature_cols)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=fcols + [target_col])
        if time_col is not None:
            pdf = pdf.sort_values(time_col)
        n = len(pdf)
        if n < min_rows:
            return pd.DataFrame(columns=[f.name for f in _GBT_SCHEMA.fields])
        key = str(pdf[group_col].iloc[0])
        X = np.column_stack([pdf[c].to_numpy(float) for c in fcols])
        y = pdf[target_col].to_numpy(float)
        model = make_model()
        model.fit(X, y)
        pred = np.asarray(model.predict(X), dtype=np.float64)
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        n_est = getattr(model, "n_estimators", None)
        return pd.DataFrame(
            {
                "group_key": [key],
                "model_name": [str(family)],
                "n_rows": [n],
                "n_trees": [int(n_est) if n_est is not None else None],
                "r2": [1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0],
                "mse": [ss_res / n],
                "model_blob": [blob_dumps_external(model, fcols, family)],
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, schema=_GBT_SCHEMA)


_GBT_GRID_SCHEMA = T.StructType(
    _GBT_SCHEMA.fields
    + [
        T.StructField("best_depth", T.IntegerType()),
        T.StructField("best_lr", T.DoubleType()),
        T.StructField("cv_mse", T.DoubleType()),
    ]
)

# (max_depth, n_trees, learning_rate) candidates — the reference's
# RF/LGBM param_grid shape (ml-service/ml_pipeline.py:90-104)
_DEFAULT_GBT_GRID: tuple[tuple[int, int, float], ...] = (
    (2, 10, 0.1),
    (3, 25, 0.1),
    (3, 25, 0.3),
)


def train_gbt_grid_per_group(
    df: DataFrame,
    *,
    group_col: str,
    feature_cols: list[str],
    target_col: str,
    time_col: str,
    grid: tuple[tuple[int, int, float], ...] = _DEFAULT_GBT_GRID,
    n_folds: int = 3,
    min_leaf: int = 5,
    n_bins: int = 16,
    min_rows: int = 40,
) -> DataFrame:
    """M6 grid-search parity for the tree tier: per-group histogram-GBT
    with (depth, trees, lr) chosen by expanding-window chronological CV
    — the reference's GridSearchCV(cv=TimeSeriesSplit(3)) over the
    RF/LightGBM grids (ml-service/ml_pipeline.py:90-104,182-192).

    Each fold trains on rows up to a chronological cut and validates on
    the next slice; the combo minimizing mean validation MSE (ties
    break toward the earliest grid entry) is refit on the full group.

    Scale shape: identical to train_gbt_per_group — ONE shuffle on
    ``group_col``; the folds × |grid| fits all run inside the worker on
    the group's frame, so hyperparameter search adds zero extra Spark
    stages. Fully deterministic (no subsampling, fixed tie-breaks), so
    metrics reproduce bit-identically across runs.
    """
    fcols = list(feature_cols)
    combos = tuple((int(d), int(t), float(lr)) for d, t, lr in grid)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=fcols + [target_col]).sort_values(time_col)
        n = len(pdf)
        if n < min_rows:
            return pd.DataFrame(columns=[f.name for f in _GBT_GRID_SCHEMA.fields])
        key = str(pdf[group_col].iloc[0])
        X = np.column_stack([pdf[c].to_numpy(float) for c in fcols])
        y = pdf[target_col].to_numpy(float)
        cuts = [int(n * (i + 1) / (n_folds + 1)) for i in range(n_folds + 1)]
        cv: list[list[float]] = [[] for _ in combos]
        for i in range(n_folds):
            lo, hi = cuts[i], cuts[i + 1]
            if lo < 2 * min_leaf or lo == hi:
                continue
            for ci, (depth, trees, lr) in enumerate(combos):
                m = gbt_fit(
                    X[:lo],
                    y[:lo],
                    n_trees=trees,
                    learning_rate=lr,
                    max_depth=depth,
                    min_leaf=min_leaf,
                    n_bins=n_bins,
                )
                resid = y[lo:hi] - gbt_predict(m, X[lo:hi])
                cv[ci].append(float((resid**2).mean()))
        mean_cv = [
            (sum(v) / len(v)) if v else float("inf") for v in cv
        ]
        best_i = min(range(len(combos)), key=lambda i: (mean_cv[i], i))
        depth, trees, lr = combos[best_i]
        model = gbt_fit(
            X,
            y,
            n_trees=trees,
            learning_rate=lr,
            max_depth=depth,
            min_leaf=min_leaf,
            n_bins=n_bins,
        )
        pred = gbt_predict(model, X)
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        return pd.DataFrame(
            {
                "group_key": [key],
                "model_name": ["gbt_histogram_grid"],
                "n_rows": [n],
                "n_trees": [trees],
                "r2": [1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0],
                "mse": [ss_res / n],
                "model_blob": [blob_dumps(model, fcols)],
                "best_depth": [depth],
                "best_lr": [lr],
                "cv_mse": [mean_cv[best_i]],
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, schema=_GBT_GRID_SCHEMA)


_RF_SCHEMA = T.StructType(
    _GBT_SCHEMA.fields + [T.StructField("oob_mse", T.DoubleType())]
)


def rf_fit(
    X: np.ndarray,
    y: np.ndarray,
    *,
    n_trees: int = 20,
    max_depth: int = 6,
    min_leaf: int = 3,
    n_bins: int = 16,
    max_features: int | None = None,
    seed: int = 0,
) -> dict:
    """Bagged random forest: bootstrap row samples + per-tree random
    feature subsets (the random-subspace variant) over the histogram
    tree — the bagged-forest member of the reference's model trio
    (RandomForestRegressor, ml-service/ml_pipeline.py:90-104).

    Deterministic by construction: the ONLY randomness is a
    numpy Generator seeded from the caller-supplied ``seed`` (derived
    from the group key in train_rf_per_group), so replays and
    stragglers reproduce bit-identical forests — the engine-wide
    no-rand() policy applies to nondeterminism, not to seeded PRNGs.

    The returned model carries ``oob_mse``: each row scored only by
    the trees whose bootstrap missed it (~36.8% per tree) — the
    forest's built-in held-out error, no validation split needed
    (the reference gets this from GridSearchCV's CV score).

    The forest serializes into the SAME gbt-v1 blob format: base = 0,
    lr = 1/n_trees, trees = the bagged trees — then
    gbt_predict(blob, X) = mean of tree predictions, so every scoring
    path (broadcast, cogroup, streaming serve) works on forests with
    zero new code."""
    n, p = X.shape
    if max_features is None:
        max_features = max(1, int(np.ceil(np.sqrt(p))))
    rng = np.random.default_rng(seed)
    edges, binned = _prebin(X, n_bins)
    trees: list[_TreeArrays] = []
    # out-of-bag accumulator: each row is scored only by trees whose
    # bootstrap missed it — the forest's built-in held-out estimate
    oob_sum = np.zeros(n)
    oob_cnt = np.zeros(n, dtype=np.int64)
    for _ in range(n_trees):
        bidx = rng.integers(0, n, size=n)
        # per-tree feature subset: unselected features get EMPTY edge
        # lists, which _fit_tree skips (ncuts == 0) — split indices
        # stay in original column space, so prediction needs no remap
        fsub = rng.choice(p, size=max_features, replace=False)
        tree_edges = [
            edges[f] if f in fsub else np.empty(0, dtype=np.float64)
            for f in range(p)
        ]
        tree = _fit_tree(
            X[bidx],
            y[bidx],
            max_depth=max_depth,
            min_leaf=min_leaf,
            edges=tree_edges,
            binned=binned[bidx],
        )
        trees.append(tree)
        oob = np.ones(n, dtype=bool)
        oob[bidx] = False
        if oob.any():
            oob_sum[oob] += _tree_predict(tree, X[oob])
            oob_cnt[oob] += 1
    seen = oob_cnt > 0
    oob_mse = (
        float((((oob_sum[seen] / oob_cnt[seen]) - y[seen]) ** 2).mean())
        if seen.any()
        else float("nan")
    )
    return {
        "base": 0.0,
        "lr": 1.0 / n_trees,
        "trees": trees,
        "oob_mse": oob_mse,
    }


def train_rf_per_group(
    df: DataFrame,
    *,
    group_col: str,
    feature_cols: list[str],
    target_col: str,
    time_col: str | None = None,
    n_trees: int = 20,
    max_depth: int = 6,
    min_leaf: int = 3,
    n_bins: int = 16,
    max_features: int | None = None,
    min_rows: int = 30,
) -> DataFrame:
    """Per-group bagged forest — rounds out the reference's
    RF + LightGBM + LinearRegression trio (ml_pipeline.py:90-104):
    OLS (pipeline/ml.py) / histogram-GBT / THIS. Same shuffle contract
    as the other trainers: ONE applyInPandas on ``group_col``; emits
    the shared _GBT_SCHEMA so unify_registries unions it straight into
    the cross-family registry (``oob_mse`` is the one extra column —
    drop it before a cross-family union). Per-group seed =
    crc32(group key), so the forest is replay-deterministic yet
    varies across groups."""
    import zlib

    fcols = list(feature_cols)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=fcols + [target_col])
        if time_col is not None:
            pdf = pdf.sort_values(time_col)
        n = len(pdf)
        if n < min_rows:
            return pd.DataFrame(columns=[f.name for f in _RF_SCHEMA.fields])
        key = str(pdf[group_col].iloc[0])
        X = np.column_stack([pdf[c].to_numpy(float) for c in fcols])
        y = pdf[target_col].to_numpy(float)
        model = rf_fit(
            X,
            y,
            n_trees=n_trees,
            max_depth=max_depth,
            min_leaf=min_leaf,
            n_bins=n_bins,
            max_features=max_features,
            seed=zlib.crc32(key.encode()),
        )
        pred = gbt_predict(model, X)
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        return pd.DataFrame(
            {
                "group_key": [key],
                "model_name": ["rf_bagged"],
                "n_rows": [n],
                "n_trees": [int(n_trees)],
                "r2": [1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0],
                "mse": [ss_res / n],
                "model_blob": [blob_dumps(model, fcols)],
                "oob_mse": [model["oob_mse"]],
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, schema=_RF_SCHEMA)


# above this many model groups the broadcast-dict strategy risks a
# driver OOM (millions of groups × ~50 KB blobs) — auto switches to
# the cogrouped shuffle join, which never materializes models driver-side
_BROADCAST_GROUP_CEILING = 100_000


def score_from_blob(
    df: DataFrame,
    models: DataFrame,
    *,
    group_col: str,
    feature_cols: list[str] | None = None,
    prediction_col: str = "prediction",
    strategy: str = "auto",
) -> DataFrame:
    """M8 scoring straight from registry blobs. Rows whose group has no
    model are dropped (inner-join semantics, matching score_ols).

    Two physical strategies, same semantics:

    - ``broadcast``: collect the model table into a driver dict and
      broadcast it. Right when |groups| is dim-sized (one row per
      symbol — the same driver budget as the k-means centroid matrix).
    - ``cogroup``: ``df.groupBy(key).cogroup(models.groupBy(key))`` —
      each group's rows and its (single) model row meet in the SAME
      Arrow pass on the executor; the blob deserializes worker-side and
      NOTHING model-sized ever touches the driver. Right at millions of
      groups, where the broadcast dict would OOM the driver. Costs one
      extra shuffle of the (group-sized) model table — negligible next
      to the data shuffle both strategies pay.
    - ``auto`` (default): collect at most ``_BROADCAST_GROUP_CEILING``
      + 1 model rows (the small side by construction) in one job, and
      broadcast them, or pick cogroup when the ceiling is exceeded.

    The feature matrix is built from the ``feature_cols`` serialized
    INSIDE each blob (that is why blob_dumps stores them) — the
    training-time column ORDER drives the tree split indices, so a
    caller-supplied order must not silently reorder the matrix. The
    ``feature_cols`` parameter, when given, is only validated against
    the blob's list (set equality) to fail loudly on a schema drift.
    """
    if strategy not in ("auto", "broadcast", "cogroup"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy != "cogroup":
        model_rows = models.select("group_key", "model_blob")
        if strategy == "auto":
            # one bounded collect both decides and feeds the broadcast:
            # at most ceiling + 1 rows reach the driver, the broadcast
            # path's own budget at the ceiling
            model_rows = model_rows.limit(_BROADCAST_GROUP_CEILING + 1)
        rows = model_rows.collect()
        if strategy == "auto":
            strategy = (
                "broadcast" if len(rows) <= _BROADCAST_GROUP_CEILING else "cogroup"
            )
    expect = set(feature_cols) if feature_cols is not None else None
    schema = T.StructType(
        df.schema.fields + [T.StructField(prediction_col, T.DoubleType())]
    )

    def _apply(pdf: pd.DataFrame, blob: bytes | None, key: str) -> pd.DataFrame:
        if blob is None:
            return pdf.iloc[0:0].assign(**{prediction_col: np.float64()})
        model = blob_loads(blob)
        fcols = list(model["feature_cols"])
        if expect is not None and set(fcols) != expect:
            raise ValueError(
                f"model for {key!r} was trained on {fcols}, "
                f"caller expected {sorted(expect)}"
            )
        X = np.column_stack([pdf[c].to_numpy(float) for c in fcols])
        ok = ~np.isnan(X).any(axis=1)
        pred = np.full(len(pdf), np.nan)
        if ok.any():
            pred[ok] = blob_predict(model, X[ok])
        return pdf.assign(**{prediction_col: pred})

    if strategy == "cogroup":
        model_side = models.select("group_key", "model_blob")

        def score_co(data: pd.DataFrame, mod: pd.DataFrame) -> pd.DataFrame:
            if len(data) == 0 or len(mod) == 0:
                base = data.iloc[0:0]
                return base.assign(**{prediction_col: np.float64()})
            key = str(data[group_col].iloc[0])
            return _apply(data, bytes(mod["model_blob"].iloc[0]), key)

        return (
            df.groupBy(group_col)
            .cogroup(model_side.groupBy("group_key"))
            .applyInPandas(score_co, schema=schema)
        )

    blobs = {r["group_key"]: bytes(r["model_blob"]) for r in rows}
    bc = df.sparkSession.sparkContext.broadcast(blobs)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        key = str(pdf[group_col].iloc[0]) if len(pdf) else ""
        return _apply(pdf, bc.value.get(key), key)

    return df.groupBy(group_col).applyInPandas(score, schema=schema)
