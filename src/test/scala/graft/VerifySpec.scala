package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify` takes `<sfDir> <outDir>` or `<sfDir> <outDir> <queries>`;
  * any other argument count fails before a session starts, with a message
  * that names both forms.
  */
class VerifySpec extends AnyFunSuite {

  test("a wrong argument count fails with the usage message") {
    for (args <- Seq(Array.empty[String], Array("sf"), Array("sf", "out", "q", "extra"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage == Verify.Usage, args.mkString(" "))
    }
    assert(Verify.Usage.contains("<sfDir> <outDir> |") &&
      Verify.Usage.contains("<sfDir> <outDir> <query>[,<query>...]"))
  }
}
