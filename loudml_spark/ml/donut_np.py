"""Donut VAE — pure-numpy implementation of the reference's model.

The reference's estimator is the Donut variational autoencoder for
seasonal KPI anomaly detection (arXiv 1802.03903, cited at
/root/reference/loudml/donut.py:8-9; theirs runs on TF/Keras which
this environment does not ship).  This is a from-the-paper
reimplementation:

* encoder/decoder: one-hidden-layer ReLU MLPs producing diagonal
  Gaussian parameters (μ, log σ²);
* M-ELBO training objective: reconstruction likelihood restricted to
  observed points, KL scaled by the observed ratio β (paper eq. 3) —
  plus missing-point injection (λ, donut.py:91);
* prediction: MCMC missing-value imputation (replace missing dims
  with reconstructions, g_mcmc_count=10, donut.py:88) followed by MC
  integration over z (donut.py:89) giving a predicted mean ± 3σ band
  with the window's **last** point treated as missing
  (donut.py:1260-1265).

All randomness flows from explicit seeds (the reference's
RANDOM_SEED contract, donut.py:94-99): weight init, reparam draws,
missing injection, and per-window MC draws (seeded by bucket index)
are deterministic across runs and partitionings.

Everything is float64 numpy batched matmuls; training data is an
aggregated bucket series (tens of KB), so driver-side fit matches the
reference's own sizing.  Gradients are hand-derived and covered by a
finite-difference check in tests/test_donut_np.py.
"""

from __future__ import annotations

import numpy as np

MCMC_COUNT = 10     # donut.py:88
# donut.py:89 uses 1000 MC samples; 100 measured equivalent on the
# trained model (same seed): mean band width ratio 0.9996, p95
# per-window sigma diff 1.9%, identical 3σ decisions, 14× faster —
# pinned by tests/test_donut_np.py::test_mc_count_100_vs_1000_band_parity
MC_COUNT = 100
MISSING_RATE = 0.01  # λ, donut.py:91
_CLIP = 8.0


def _xavier(rng, n_in, n_out):
    return rng.normal(0.0, np.sqrt(2.0 / (n_in + n_out)), (n_in, n_out))


class NumpyVAE:
    """Diagonal-Gaussian VAE with M-ELBO training."""

    def __init__(self, span: int, latent: int = 5, hidden: int = 55,
                 seed: int = 42):
        self.span, self.latent, self.hidden = span, latent, hidden
        self.seed = seed
        rng = np.random.default_rng(seed)
        H, W, K = hidden, span, latent
        self.params = {
            "We": _xavier(rng, W, H), "be": np.zeros(H),
            "Wem": _xavier(rng, H, K), "bem": np.zeros(K),
            "Wev": _xavier(rng, H, K), "bev": np.zeros(K) - 1.0,
            "Wd": _xavier(rng, K, H), "bd": np.zeros(H),
            "Wdm": _xavier(rng, H, W), "bdm": np.zeros(W),
            "Wdv": _xavier(rng, H, W), "bdv": np.zeros(W) - 1.0,
        }

    # ---------------------------------------------------------- forward

    def _encode(self, X):
        h = np.maximum(0.0, X @ self.params["We"] + self.params["be"])
        mu = h @ self.params["Wem"] + self.params["bem"]
        lv = np.clip(h @ self.params["Wev"] + self.params["bev"],
                     -_CLIP, _CLIP)
        return h, mu, lv

    def _decode(self, Z):
        h = np.maximum(0.0, Z @ self.params["Wd"] + self.params["bd"])
        mu = h @ self.params["Wdm"] + self.params["bdm"]
        lv = np.clip(h @ self.params["Wdv"] + self.params["bdv"],
                     -_CLIP, _CLIP)
        return h, mu, lv

    # ------------------------------------------------ loss + gradients

    def loss_and_grads(self, X, M, eps):
        """M-ELBO negative loss and gradients for batch X (B×W) with
        observed-mask M (B×W) and reparam noise eps (B×K)."""
        p = self.params
        B = X.shape[0]
        beta = M.sum(axis=1, keepdims=True) / self.span  # B×1

        h1, mz, lvz = self._encode(X)
        sz = np.exp(0.5 * lvz)
        Z = mz + sz * eps
        h2, mx, lvx = self._decode(Z)
        vx = np.exp(lvx)

        diff = X - mx
        rec = 0.5 * M * (np.log(2 * np.pi) + lvx + diff * diff / vx)
        kl = 0.5 * beta * (mz * mz + np.exp(lvz) - 1.0 - lvz)
        loss = (rec.sum() + kl.sum()) / B

        # ---- backward
        dmx = M * (mx - X) / vx / B
        dlvx = 0.5 * M * (1.0 - diff * diff / vx) / B
        dlvx[np.abs(lvx) >= _CLIP] = 0.0

        g = {}
        dh2 = dmx @ p["Wdm"].T + dlvx @ p["Wdv"].T
        g["Wdm"] = h2.T @ dmx
        g["bdm"] = dmx.sum(0)
        g["Wdv"] = h2.T @ dlvx
        g["bdv"] = dlvx.sum(0)
        dh2 *= (h2 > 0)
        g["Wd"] = Z.T @ dh2
        g["bd"] = dh2.sum(0)
        dZ = dh2 @ p["Wd"].T

        dmz = dZ + (beta * mz) / B
        dlvz = dZ * eps * 0.5 * sz \
            + (0.5 * beta * (np.exp(lvz) - 1.0)) / B
        dlvz[np.abs(lvz) >= _CLIP] = 0.0

        dh1 = dmz @ p["Wem"].T + dlvz @ p["Wev"].T
        g["Wem"] = h1.T @ dmz
        g["bem"] = dmz.sum(0)
        g["Wev"] = h1.T @ dlvz
        g["bev"] = dlvz.sum(0)
        dh1 *= (h1 > 0)
        g["We"] = X.T @ dh1
        g["be"] = dh1.sum(0)
        return loss, g

    # ---------------------------------------------------------- training

    def fit(self, X, M, *, epochs: int = 100, batch_size: int = 64,
            lr: float = 1e-3, missing_rate: float = MISSING_RATE,
            opt: dict | None = None):
        """Adam on M-ELBO.  X: N×W (z-scored, missing already 0),
        M: observed mask.  Deterministic under the instance seed.

        ``opt`` resumes training: pass the (mutated-in-place) dict a
        previous call populated and the Adam moments, bias-correction
        step and batch-shuffle RNG continue instead of restarting —
        training e₁ then e₂ epochs equals training e₁+e₂ straight
        (successive-halving rungs rely on this)."""
        if opt is None:
            opt = {}
        if "rng" not in opt:
            opt["rng"] = np.random.default_rng(self.seed + 1)
            opt["m"] = {k: np.zeros_like(v)
                        for k, v in self.params.items()}
            opt["v"] = {k: np.zeros_like(v)
                        for k, v in self.params.items()}
            opt["t"] = 0
        rng = opt["rng"]
        m_state, v_state, t = opt["m"], opt["v"], opt["t"]
        b1, b2, eps_adam = 0.9, 0.999, 1e-8
        n = X.shape[0]
        history = []
        for _ in range(epochs):
            order = rng.permutation(n)
            ep_loss = 0.0
            for s in range(0, n, batch_size):
                idx = order[s:s + batch_size]
                xb, mb = X[idx].copy(), M[idx].copy()
                # missing injection (paper trick, donut.py:91)
                inject = rng.random(xb.shape) < missing_rate
                mb = mb * (~inject)
                xb = xb * mb
                eps = rng.standard_normal((len(idx), self.latent))
                loss, g = self.loss_and_grads(xb, mb, eps)
                ep_loss += loss * len(idx)
                t += 1
                for k in self.params:
                    m_state[k] = b1 * m_state[k] + (1 - b1) * g[k]
                    v_state[k] = b2 * v_state[k] + (1 - b2) * g[k] ** 2
                    mhat = m_state[k] / (1 - b1 ** t)
                    vhat = v_state[k] / (1 - b2 ** t)
                    self.params[k] -= lr * mhat / (np.sqrt(vhat) + eps_adam)
            history.append(ep_loss / n)
        opt["t"] = t
        return history

    # --------------------------------------------------------- inference

    def reconstruct(self, X, M, rng, *, mcmc: int = MCMC_COUNT,
                    mc: int = MC_COUNT):
        """MCMC imputation + MC integration.  Returns (mu, sigma) per
        window per dim: mean reconstruction and total predictive std
        (aleatoric + epistemic)."""
        x = X * M
        for _ in range(mcmc):
            _, mz, _ = self._encode(x)
            _, mx, _ = self._decode(mz)
            x = np.where(M > 0, X, mx)
        _, mz, lvz = self._encode(x)
        sz = np.exp(0.5 * lvz)
        B, W = X.shape
        mus = np.empty((mc, B, W))
        vxs = np.empty((mc, B, W))
        for i in range(mc):
            z = mz + sz * rng.standard_normal(mz.shape)
            _, mx, lvx = self._decode(z)
            mus[i] = mx
            vxs[i] = np.exp(lvx)
        mu = mus.mean(axis=0)
        sigma = np.sqrt(vxs.mean(axis=0) + mus.var(axis=0))
        return mu, sigma

    def forecast_roll(self, window, mask, steps, rng, *,
                      noise: float = 0.0, mcmc: int = MCMC_COUNT,
                      mc: int = MC_COUNT):
        """Iterative roll-forward forecast (donut.py:1333-1475 loop).

        ``window``: span values in scaled space with the LAST slot the
        first bucket to forecast; ``mask``: observed flags (last must
        be 0).  Each step: MCMC-impute the missing slot through the
        deterministic mean path (z_mean → decoder mean, mirroring the
        reference's `_encoder_model`/`_decoder_model` predict calls),
        optionally multiply the WHOLE window — history slots included
        — by (1 + U(−noise·j, noise·j)) with the point forecast read
        AFTER noising (this mirrors the reference's loop verbatim,
        donut.py:1429-1433: `x *= 1 + expand; …; y[j] = x[-1]` — the
        noise perturbs the trajectory itself and compounds
        multiplicatively across steps, it is not a pure band widener),
        measure epistemic spread by MC integration over z (std of
        decoded means at the last slot — the reference uses exactly
        np.std(x_decoded[:, -1])), then roll the window left and mark
        the new last slot missing.

        Returns (y, std) in scaled space, each of length ``steps``.
        """
        x = np.asarray(window, dtype=float).copy()
        m = np.asarray(mask, dtype=float).copy()
        m[-1] = 0.0
        missing = m <= 0.0
        x[missing] = 0.0
        y = np.empty(steps)
        std = np.empty(steps)
        for j in range(steps):
            for _ in range(mcmc):
                _, mz, _ = self._encode(x[None, :])
                _, mx, _ = self._decode(mz)
                x[missing] = mx[0][missing]
            if noise:
                x = x * (1.0 + rng.uniform(-noise * j, noise * j, len(x)))
            _, mz, lvz = self._encode(x[None, :])
            sz = np.exp(0.5 * lvz)
            z = mz + sz * rng.standard_normal((mc, mz.shape[1]))
            _, mxs, _ = self._decode(z)
            std[j] = float(np.std(mxs[:, -1]))
            y[j] = float(x[-1])
            x = np.roll(x, -1)
            x[-1] = 0.0
            # after the first step the history slots all hold values
            # (observed or previously-forecast) — only the rolled-in
            # last slot is missing, as in the reference
            missing = np.zeros(len(x), dtype=bool)
            missing[-1] = True
        return y, std

    # ------------------------------------------------------- persistence

    def state_dict(self) -> dict:
        return {
            "span": self.span, "latent": self.latent, "hidden": self.hidden,
            "seed": self.seed,
            "params": {k: v.tolist() for k, v in self.params.items()},
        }

    @classmethod
    def from_state(cls, state: dict) -> "NumpyVAE":
        vae = cls(state["span"], state["latent"], state["hidden"],
                  state["seed"])
        vae.params = {k: np.asarray(v) for k, v in state["params"].items()}
        return vae


# ------------------------------------------------------------------
# The one numpy implementation of each Donut step.  DonutModel (driver),
# the per-key fleet (executors) and the DuckDB oracle replays all call
# these, so they run the same float ops with the same seeds.


def zscore_params(vals) -> tuple[float, float]:
    """(mean, std) that z-score a series holding NaN for missing
    buckets: std → 1 when it is 0 or NaN (donut.py:650); an
    all-missing or empty slice scales with mean 0, std 1."""
    if np.isnan(vals).all():
        return 0.0, 1.0
    mean = float(np.nanmean(vals))
    std = float(np.nanstd(vals))
    if std == 0 or np.isnan(std):
        std = 1.0
    return mean, std


def donut_windows(vals, mean: float, std: float, span: int):
    """z-scored sliding windows X (missing → 0) and their observed
    mask M, both N×span."""
    scaled = (vals - mean) / std
    mask = (~np.isnan(scaled)).astype(float)
    scaled = np.nan_to_num(scaled, nan=0.0)
    X = np.lib.stride_tricks.sliding_window_view(scaled, span).copy()
    M = np.lib.stride_tricks.sliding_window_view(mask, span).copy()
    return X, M


def donut_fit_values(
    vals,
    *,
    span: int,
    latent_dim: int,
    intermediate_dim: int,
    epochs: int,
    seed: int,
    batch_size: int = 64,
    init: dict | None = None,
) -> dict:
    """Train the VAE on a value array (NaN = missing) → JSON state.

    ``init`` (a ``NumpyVAE.state_dict()``) continues training from
    those weights, the reference's `_train_ckpt_on_dataset`
    (donut.py:857-897): the checkpoint pins architecture and seed,
    mean/std are re-estimated on ``vals`` (donut.py:866) and Adam
    moments restart."""
    mean, std = zscore_params(vals)
    X, M = donut_windows(vals, mean, std, span)
    vae = (NumpyVAE(span, latent_dim, intermediate_dim, seed)
           if init is None else NumpyVAE.from_state(init))
    history = vae.fit(X, M, epochs=epochs, batch_size=batch_size)
    # the raw training tail (span-1 values) seeds the first forecast
    # window without re-reading the source (donut.py:1361-1365 widens
    # the scan instead); [-0:] would be the whole array
    tail = vals[-(span - 1):] if span > 1 else vals[:0]
    return {
        "vae": vae.state_dict(), "mean": mean, "std": std,
        "loss": history[-1],
        "tail": [None if np.isnan(v) else float(v) for v in tail],
    }


def donut_predict_values(state: dict, vals, *, span: int, seed: int):
    """(pred, sig) for every full window of ``vals``, aligned to
    ``vals[span-1:]``: each bucket is predicted from its window with
    that bucket treated as missing (donut.py:1260-1265)."""
    mean, std = state["mean"], state["std"]
    X, M = donut_windows(vals, mean, std, span)
    M[:, -1] = 0.0
    vae = NumpyVAE.from_state(state["vae"])
    mu, sigma = vae.reconstruct(X, M, np.random.default_rng(seed + 7))
    return mu[:, -1] * std + mean, sigma[:, -1] * std


def donut_forecast_values(
    state: dict,
    steps: int,
    *,
    span: int,
    seed: int,
    percent_interval: float = 0.68,
    percent_noise: float = 0.0,
    bucket_interval: int = 3600,
    history=None,
):
    """Roll-forward forecast: (pred, half_band) arrays of length
    ``steps``, starting from the last span-1 values of ``history``
    (default: the stored training tail)."""
    from loudml_spark import errors
    from loudml_spark.ml.scoring import band_sigma_for

    mean, std = state["mean"], state["std"]
    raw = history if history is not None else state.get("tail")
    if raw is None or len(raw) < span - 1:
        raise errors.Invalid(
            f"forecast needs the last {span - 1} observed "
            "values (train first or pass history=)")
    hist = np.array(
        [np.nan if v is None else float(v) for v in raw],
        dtype=float,
    )
    hist = hist[-(span - 1):] if span > 1 else hist[:0]
    window = np.nan_to_num(
        np.concatenate([(hist - mean) / std, [0.0]]), nan=0.0)
    mask = np.concatenate([(~np.isnan(hist)).astype(float), [0.0]])
    vae = NumpyVAE.from_state(state["vae"])
    rng = np.random.default_rng(seed + 13)
    noise = percent_noise * float(bucket_interval) / 86400.0
    y, sig = vae.forecast_roll(window, mask, steps, rng, noise=noise)
    p = band_sigma_for(percent_interval)
    return y * std + mean, p * sig * std


def _span_windows(span, vals, mean, std, cut, cache):
    """Window matrices depend only on span — share one read-only set
    per span across every (latent, hidden) candidate instead of
    copying O(n·span) arrays per config (with 2·max_evals candidates
    alive at once, per-candidate copies multiply peak memory ~the
    candidate count; in fleet mode this runs per key inside
    executors' Python workers)."""
    if span not in cache:
        cache[span] = (
            *donut_windows(vals[:cut], mean, std, span),
            *donut_windows(vals[cut - span + 1:], mean, std, span),
        )
    return cache[span]


class _Candidate:
    """One (span, latent, hidden) config with its VAE + span-shared
    window matrices, trainable incrementally (successive-halving
    rungs add epochs to survivors instead of retraining from
    scratch).  The shared matrices are never mutated: fit() copies
    its mini-batches and val_loss() copies the query mask."""

    def __init__(self, span, ld, id_, vals, mean, std, cut, seed,
                 win_cache):
        self.span, self.ld, self.id_ = span, ld, id_
        self.Xt, self.Mt, self.Xv, self.Mv = _span_windows(
            span, vals, mean, std, cut, win_cache)
        self.vae = NumpyVAE(span, ld, id_, seed)
        self.seed = seed
        self.epochs_spent = 0
        self._opt: dict = {}
        self._loss_at: tuple | None = None  # (epochs_spent, loss)

    def train(self, extra_epochs: int) -> None:
        # optimizer state persists across rungs, so chunked training
        # follows the identical trajectory as one continuous run
        if extra_epochs > 0:
            self.vae.fit(self.Xt, self.Mt, epochs=extra_epochs,
                         opt=self._opt)
            self.epochs_spent += extra_epochs

    def val_loss(self) -> float:
        """Chronological-validation masked-last-point reconstruction
        MSE — the quantity ``predict`` minimizes.  Memoized per
        training state: the full reconstruct pass (MCMC + MC draws
        over every validation window) is deterministic given the
        weights, and rung ranking + the final report would otherwise
        re-run it several times per candidate (per KEY in fleet
        mode)."""
        if self._loss_at is not None and \
                self._loss_at[0] == self.epochs_spent:
            return self._loss_at[1]
        Mq = self.Mv.copy()
        Mq[:, -1] = 0.0
        mu, _ = self.vae.reconstruct(
            self.Xv, Mq, np.random.default_rng(self.seed + 7))
        obs = self.Mv[:, -1] > 0
        err = (mu[:, -1] - self.Xv[:, -1])[obs]
        loss = float(np.mean(err * err)) if err.size else float("inf")
        self._loss_at = (self.epochs_spent, loss)
        return loss


def search_hyperparams_np(
    vals: "np.ndarray",
    *,
    max_evals: int = 10,
    spans=(10, 20, 24, 50),
    latent_dims=(3, 5, 8),
    intermediate_dims=(21, 34, 55, 89, 144, 233),
    train_size: float = 0.67,
    epochs: int = 15,
    seed: int = 42,
    strategy: str = "sha",
) -> dict:
    """Pure-numpy joint hyper-search core (reference donut.py:813-855
    space under a max_evals budget, made deterministic).  Driver-side
    callers wrap it with a collect (ml.models.auto_hyperparams);
    executor-side callers run it per key inside applyInPandas — the
    search itself has no Spark dependency.

    Two strategies under the SAME total-epoch budget
    (``max_evals × epochs``, the reference's hyperopt ``max_evals``
    semantics, donut.py:691-693):

    * ``"sha"`` (default) — deterministic successive halving (the
      ADAPTIVE search standing in for the reference's TPE): 2× as
      many seeded candidates start at a quarter of the epochs, the
      top half by validation loss survives each rung and trains ON
      (true continuation — Adam state persists, so chunked training
      follows the identical trajectory as one straight run), the
      final rung reaches the full epoch count.  Rung cost
      2m·e/4 + m·e/4 + (m/2)·e/2 = m·e exactly matches the
      flat-sample budget while exploring 2× the configurations.
    * ``"grid"`` — the seeded uniform grid sample (each candidate
      trained the full ``epochs``); kept as the budget-equal
      baseline the unit gate compares SHA against.

    Scores are chronological-validation masked-last-point
    reconstruction MSE.  Deterministic across runs and hosts; ties
    break toward the smaller model.  Returns {"span", "latent_dim",
    "intermediate_dim", "loss", "n_evals"}; raises ValueError if no
    candidate fits the series.
    """
    if isinstance(spans, int):
        spans = (spans,)
    grid = [
        (s, ld, id_)
        for s in sorted(spans)
        for ld in sorted(latent_dims)
        for id_ in sorted(intermediate_dims)
    ]
    cut = int(len(vals) * train_size)
    # scaling is candidate-invariant (depends only on vals/cut) —
    # hoisted out of the eval loop (it runs per key in fleet mode)
    mean, std = zscore_params(vals[:cut])

    def fits(span):
        return cut > span + 2 and len(vals) - cut > span

    rng = np.random.default_rng(seed)
    n_start = max_evals if strategy == "grid" else 2 * max_evals
    order = rng.permutation(len(grid))[:n_start]
    configs = [grid[i] for i in sorted(order) if fits(grid[i][0])]
    if not configs:
        raise ValueError(
            "series too short for any candidate span in the search grid")
    win_cache: dict = {}
    cands = [_Candidate(s, ld, id_, vals, mean, std, cut, seed,
                        win_cache)
             for s, ld, id_ in configs]

    def ranked(cs):
        return sorted(
            cs, key=lambda c: (c.val_loss(), c.span, c.ld, c.id_))

    if strategy == "grid":
        for c in cands:
            c.train(epochs)
        best = ranked(cands)[0]
    elif strategy == "sha":
        # eta=2: cumulative epoch targets e/4 → e/2 → e; half the
        # field survives each rung.  Cost with n₀ = 2·max_evals:
        # 2m·e/4 + m·e/4 + (m/2)·e/2 = m·e — exactly the flat-sample
        # budget, exploring 2× the configurations.  (eta=3 with
        # 1-epoch rung-0 proxies misranked undertrained VAEs.)
        targets = [max(1, epochs // 4), max(1, epochs // 2), epochs]
        for rung, target in enumerate(targets):
            for c in cands:
                c.train(target - c.epochs_spent)
            if rung < len(targets) - 1:
                keep = max(1, -(-len(cands) // 2))  # ceil(n/2)
                cands = ranked(cands)[:keep]
        best = ranked(cands)[0]
    else:
        raise ValueError(f"unknown search strategy: {strategy}")
    return {
        "span": best.span, "latent_dim": best.ld,
        "intermediate_dim": best.id_, "loss": best.val_loss(),
        "n_evals": len(configs),
    }
