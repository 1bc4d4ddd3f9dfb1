"""Weights-backed inference probe (L3/R2 future-proofing).

The ort-backed test is skipped-or-green depending on onnxruntime
presence; the Spark plumbing (batching, cached session path, schema) is
exercised unconditionally through the numpy twin backend.
"""

import numpy as np
import pytest

from pero_ocr_spark.functions import onnx_infer as OX

IN_DIM, HID_DIM, OUT_DIM = 64, 16, 4


def toy_weights() -> dict[str, np.ndarray]:
    """Deterministic weights (seeded, float32) — shared by the ONNX
    initializers and the numpy twin, so the two backends must agree."""
    rng = np.random.default_rng(20260817)
    return {
        "W1": rng.standard_normal((IN_DIM, HID_DIM)).astype(np.float32) * 0.2,
        "B1": rng.standard_normal(HID_DIM).astype(np.float32) * 0.1,
        "W2": rng.standard_normal((HID_DIM, OUT_DIM)).astype(np.float32) * 0.2,
        "B2": rng.standard_normal(OUT_DIM).astype(np.float32) * 0.1,
    }


def toy_model_bytes() -> bytes:
    """The 64 -> 16 relu -> 4 probe net."""
    return OX.mlp_model_bytes(toy_weights())


def numpy_forward(x: np.ndarray, weights: dict[str, np.ndarray] | None = None) -> np.ndarray:
    """The twin executor: float32 math in the same op order as the
    graph, so ort output matches to float32 tolerance."""
    w = weights or toy_weights()
    x = np.asarray(x, dtype=np.float32)
    h = np.maximum(x @ w["W1"] + w["B1"], np.float32(0))
    return h @ w["W2"] + w["B2"]


def infer_batched(df, vec_col: str = "embedding", backend: str = "ort"):
    """Probe Spark stage: score each row's float vector with the toy
    net. Each Arrow batch becomes ONE [N, 64] float32 tensor and ONE
    session call, mirroring the reference's padded-batch inference
    loop (pytorch_ocr_engine.py:50-63). Output: input columns +
    ``logits array<float>`` + ``pred int``."""
    w = toy_weights()
    model = OX.mlp_model_bytes(w)
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema = f"{fields}, logits array<float>, pred int"

    def run(batches):
        # the workers cannot import this test module: the numpy twin's
        # math is inlined so the closure pickles by value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack([np.asarray(v, dtype=np.float32) for v in pdf[vec_col]])
            if backend == "ort":
                y = OX.session_forward(model, x)
            else:
                h = np.maximum(x @ w["W1"] + w["B1"], np.float32(0))
                y = h @ w["W2"] + w["B2"]
            out = pdf.copy()
            out["logits"] = [row.tolist() for row in y]
            out["pred"] = np.argmax(y, axis=1).astype(np.int32)
            yield out

    return df.mapInPandas(run, schema=out_schema)


def _ort_available() -> bool:
    try:
        import onnxruntime  # noqa: F401
    except ImportError:
        return False
    return True


def _walk(buf: bytes) -> dict[int, list]:
    """Minimal protobuf wire-format walker: returns {field: [payloads]}
    and raises if any varint/length field overruns the buffer — a
    structural well-formedness check that needs no protobuf library."""
    fields: dict[int, list] = {}
    i, n = 0, len(buf)
    while i < n:
        tag = 0
        shift = 0
        while True:
            b = buf[i]
            i += 1
            tag |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            val = 0
            shift = 0
            while True:
                b = buf[i]
                i += 1
                val |= (b & 0x7F) << shift
                shift += 7
                if not b & 0x80:
                    break
        elif wire == 2:
            ln = 0
            shift = 0
            while True:
                b = buf[i]
                i += 1
                ln |= (b & 0x7F) << shift
                shift += 7
                if not b & 0x80:
                    break
            assert i + ln <= n, f"field {field} overruns buffer"
            val = buf[i : i + ln]
            i += ln
        else:
            raise AssertionError(f"unexpected wire type {wire}")
        fields.setdefault(field, []).append(val)
    return fields


class TestToyModel:
    def test_model_bytes_deterministic(self):
        a, b = toy_model_bytes(), toy_model_bytes()
        assert a == b

    def test_model_proto_structure(self):
        m = _walk(toy_model_bytes())
        assert m[1] == [8]  # ir_version
        assert m[2] == [b"pero_ocr_spark"]  # producer
        graph = _walk(m[7][0])
        assert len(graph[1]) == 5  # five nodes
        ops = [_walk(nd)[4][0] for nd in graph[1]]
        assert ops == [b"MatMul", b"Add", b"Relu", b"MatMul", b"Add"]
        inits = {_walk(t)[8][0]: _walk(t) for t in graph[5]}
        assert set(inits) == {b"W1", b"B1", b"W2", b"B2"}
        w1 = inits[b"W1"]
        assert w1[1] == [IN_DIM, HID_DIM]  # dims
        assert w1[2] == [1]  # FLOAT
        raw = np.frombuffer(w1[9][0], dtype=np.float32)
        assert np.array_equal(
            raw.reshape(IN_DIM, HID_DIM), toy_weights()["W1"]
        )
        opset = _walk(m[8][0])
        assert opset[2] == [13]

    def test_numpy_forward_shapes_and_relu(self):
        x = np.zeros((3, IN_DIM), dtype=np.float32)
        y = numpy_forward(x)
        assert y.shape == (3, OUT_DIM)
        w = toy_weights()
        # zero input passes only the biases through the relu
        expect = np.maximum(w["B1"], 0) @ w["W2"] + w["B2"]
        assert np.allclose(y[0], expect, atol=1e-6)


class TestSparkPlumbing:
    def test_numpy_backend_batches(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = infer_batched(emb, backend="numpy")
        rows = out.limit(500).collect()
        assert rows and all(len(r["logits"]) == OUT_DIM for r in rows)
        # spot-check one row against the twin run locally
        r0 = rows[0]
        local = numpy_forward(np.asarray(r0["embedding"], dtype=np.float32))
        assert np.allclose(r0["logits"], local, atol=1e-5)
        assert r0["pred"] == int(np.argmax(local))

    def test_ort_backend_gate_or_parity(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64)
        if not _ort_available():
            # the NotImplementedError raised in the python worker
            # surfaces wrapped in PySpark's PythonException; the gate
            # message must still name the missing dependency
            with pytest.raises(Exception, match="onnxruntime"):
                infer_batched(emb, backend="ort").collect()
            pytest.skip("onnxruntime not installed — gate verified")
        got = {
            r["vec_id"]: r["logits"]
            for r in infer_batched(emb, backend="ort").collect()
        }
        twin = {
            r["vec_id"]: numpy_forward(
                np.asarray(r["embedding"], dtype=np.float32)
            )
            for r in emb.collect()
        }
        for k, v in got.items():
            assert np.allclose(v, twin[k], atol=1e-4)

    def test_session_cache_keyed_on_digest(self):
        if not _ort_available():
            with pytest.raises(NotImplementedError, match="onnxruntime"):
                OX._session(toy_model_bytes())
            return
        s1 = OX._session(toy_model_bytes())
        s2 = OX._session(toy_model_bytes())
        assert s1 is s2


class TestRecognizeLinesOnnx:
    """Round-5 directive: the weights-backed session drives the FULL
    recognize path (length-packed batches -> frame tensor -> cached
    session -> logits -> batched greedy decode), not just the probe
    stage. The passthrough weights make backend='onnx' provably equal
    to backend='synth' — skipped-or-green on onnxruntime presence."""

    def test_passthrough_weights_are_exact_on_synth_logits(self):
        # unconditional (numpy twin): synth logits live in {-80, 0};
        # both values survive the +/-shift bit-exactly in float32
        c = 7
        w = OX.ctc_passthrough_weights(c)
        x = np.full((5, c), -80.0, dtype=np.float32)
        x[np.arange(5), np.arange(5)] = 0.0
        assert np.array_equal(numpy_forward(x, w), x)

    def test_passthrough_model_structure(self):
        m = _walk(OX.ctc_passthrough_model_bytes(7))
        graph = _walk(m[7][0])
        assert graph[2] == [b"ctc_passthrough"]
        inits = {_walk(t)[8][0]: _walk(t) for t in graph[5]}
        assert set(inits) == {b"W1", b"B1", b"W2", b"B2"}
        assert inits[b"W1"][1] == [7, 7]
        w1 = np.frombuffer(inits[b"W1"][9][0], dtype=np.float32)
        assert np.array_equal(w1.reshape(7, 7), np.eye(7, dtype=np.float32))

    def test_recognize_lines_onnx_gate_or_end_to_end(self, spark):
        from pero_ocr_spark.operators import ctc

        lines = spark.createDataFrame(
            [(1, "l0", "the quick brown fox"), (1, "l1", "hello"),
             (2, "l0", "pack my box"), (2, "l1", "a")],
            "doc_id long, line_id string, text string",
        )
        if not _ort_available():
            with pytest.raises(Exception, match="onnxruntime"):
                ctc.recognize_lines(lines, backend="onnx").collect()
            pytest.skip("onnxruntime not installed — gate verified")
        key = lambda r: (r["doc_id"], r["line_id"])  # noqa: E731
        got = sorted(
            ctc.recognize_lines(lines, backend="onnx").collect(), key=key
        )
        ref = sorted(
            ctc.recognize_lines(lines, backend="synth").collect(), key=key
        )
        assert [r["transcription"] for r in got] == [
            r["transcription"] for r in ref
        ]
        for g, r in zip(got, ref):
            assert abs(g["confidence"] - r["confidence"]) < 1e-6
            assert abs(g["score"] - r["score"]) < 1e-6
        # and the decode actually recovers the input text
        assert got[0]["transcription"] == "the quick brown fox"
