from workloads import ACC_FLOOR, Ctx, pooled_accuracy


def _row(acc: float, n: int = 200) -> dict:
    return {"acc": acc, "batchsize": n}


def test_constant_predictor_fails_the_accuracy_floor():
    # predicting "positive" for every record of balanced labels
    assert pooled_accuracy([_row(0.5) for _ in range(20)]) < ACC_FLOOR


def test_model_that_goes_bad_after_a_good_batch_fails():
    history = [_row(0.9)] + [_row(0.5) for _ in range(10)]
    assert pooled_accuracy(history) < ACC_FLOOR


def test_learning_model_passes():
    history = [_row(0.7), _row(0.78)] + [_row(0.82) for _ in range(10)]
    assert pooled_accuracy(history) >= ACC_FLOOR


def test_pooled_accuracy_weights_by_held_out_count():
    assert pooled_accuracy([_row(1.0, 300), _row(0.0, 100)]) == 0.75
    assert pooled_accuracy([_row(0.0, 0)]) is None


def test_failed_checks_count_as_failed_operations(tmp_path):
    ctx = Ctx(str(tmp_path), str(tmp_path), 1, 10, None, 4)
    for b in range(4):
        ctx.op(b)
    ctx.op(3, False)  # raised
    assert (ctx.attempted, ctx.failed) == (4, 1)
    ctx.check("per-batch check", False, ops=[1])
    ctx.check("passing check", True, ops=[0])
    assert (ctx.attempted, ctx.failed) == (4, 2)
    ctx.check("run-level check", False)
    assert (ctx.attempted, ctx.failed) == (4, 4)
    assert [c["ok"] for c in ctx.checks] == [False, True, False]
